"""Part ``corpus`` of the ``pipeline`` workload: the operator modules (``dataops``, ``queries``,
``multimodal``, ``temporal``) over seeded ``documents`` and ``events``
tables shaped like the repository's sf0.01 test data.  Each operation is one of the library's oracle-gated queries; its
result is compared with the query's DuckDB oracle, computed before set-up.

The rotation is MinHash-LSH near-duplicate detection with exact-Jaccard
verification (multi-job, with a ``mapInPandas`` stage), the image codec
round trip of ``multimodal`` (``mapInPandas``), and the range join of
``temporal``.  The seed sets the rotation order.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench import inputs
from perfbench.harness import Op, expect
from perfbench.spark_base import SparkPart, duckdb_rows, norm_rows

#: (op and span name, query name in ``queries.queries()``)
QUERIES = [
    ("dataops.q_dedup_minhash_lsh", "dedup_minhash_lsh"),
    ("dataops.q_multimodal_image_decode", "multimodal_image_decode"),
    ("queries.q_range_join_events", "range_join_events"),
]
TABLES = ("documents", "events")
N_DOCS = 500
N_EVENTS = 10_000


class Corpus(SparkPart):
    name = "corpus"

    def prepare(self) -> None:
        import duckdb

        from hg64spark import queries

        self.dir = inputs.cached(
            self.ctx.cache_root,
            self.name,
            self.ctx.seed,
            (TABLES, N_DOCS, N_EVENTS),
            lambda d: inputs.corpus_tables(np.random.default_rng([self.ctx.seed, 4]), d, N_DOCS, N_EVENTS),
        )
        oracles = queries.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        self.expected = {q: duckdb_rows(con, oracles[q]) for _, q in QUERIES}
        con.close()
        import pyarrow.parquet as pq

        self.rows = {t: pq.ParquetFile(os.path.join(self.dir, f"{t}.parquet")).metadata.num_rows for t in TABLES}
        order = np.random.default_rng([self.ctx.seed, 5]).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in order]

    def rotation(self, r: int) -> list[Op]:
        from hg64spark import queries

        fns = queries.queries()
        ops = []
        for span, qname in self.order:
            fn = fns[qname]
            table = "events" if qname.endswith("_events") else "documents"

            def run(span=span, fn=fn):
                df = self.tracer.call(span, fn, self.spark, self.dir)
                return df.columns, self.action(df.collect)

            def check(res, qname=qname):
                cols, rows = res
                got = norm_rows(cols, rows)
                want = self.expected[qname]
                expect(got == want, f"{qname}: {len(got)} rows differ from the oracle's {len(want)}")

            ops.append(Op(span, run, check, self.rows[table]))
        return ops
