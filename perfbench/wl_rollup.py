"""Part ``rollup`` of the ``pipeline`` workload: read-only sketch analytics
over a seeded transcript table written to parquet before timing: the first
``inputs.ROLLUP_ROWS`` turns of the library's ``synthetic_transcripts``.

The fixed rotation covers both hg64 finalizer stacks (Arrow blobs through
``agg`` and the zero-Python ``relational`` twin), group cardinality from 1
(global HLL) through 8 (tools) to every conversation, about 1,400 (per-conversation hg64
on the Catalyst path), and the Arrow partial + ``applyInPandas`` merge path
(KLL by tool).

Expectations come from the DuckDB oracle (``hg64spark.sqloracle``) where
one exists and from numpy over the same rows otherwise, all computed before
set-up timing starts.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.harness import Op, expect
from perfbench.spark_base import SparkPart, duckdb_rows, norm_rows

SIGBITS = 5
QS = [0.1, 0.5, 0.9, 0.99, 0.999]
PROBE_QS = np.array([0.5, 0.9, 0.99])


class Rollup(SparkPart):
    name = "rollup"

    def prepare(self) -> None:
        import duckdb

        from hg64spark import sqloracle, transcripts
        from hg64spark.hg64 import HG64

        self.path = inputs.transcript_segments(self.ctx.cache_root, self.ctx.seed)[0]
        table = pq.read_table(sorted(glob.glob(os.path.join(self.path, "*.parquet"))))
        self.n_rows = table.num_rows
        turns = table.group_by("conv_id").aggregate([("turn_idx", "count")]).column("turn_idx_count").to_numpy()
        self.shape = {"rollup_convs": len(turns), "rollup_largest_conv_share": float(turns.max()) / self.n_rows}
        con = duckdb.connect()
        con.execute(f"CREATE VIEW transcripts AS SELECT * FROM '{self.path}/*.parquet'")
        lat_sql = transcripts.LATENCY_SQL.format(base="SELECT * FROM transcripts")
        self.expected = {
            "tool_quantiles": duckdb_rows(
                con, sqloracle.quantiles_sql(lat_sql, "latency_us", SIGBITS, QS, ["tool"])
            ),
            "distinct_convs": con.execute("SELECT count(DISTINCT conv_id) FROM transcripts").fetchone()[0],
        }
        con.close()
        df = table.select(["conv_id", "tool", "latency_us"]).to_pandas()
        df = df[df["latency_us"].notna()]
        self.tool_values = {
            t: np.sort(g["latency_us"].to_numpy(np.int64)) for t, g in df.groupby("tool")
        }
        h = hashlib.sha256()
        for conv, g in sorted(df.groupby("conv_id"), key=lambda kv: kv[0]):
            h.update(conv.encode() + HG64(SIGBITS).add_values(g["latency_us"].to_numpy(np.int64)).serialize())
        self.expected["per_conv_sha"] = h.hexdigest()

    def report(self, runner) -> dict:
        return dict(self.shape)

    # ------------------------------------------------------------ operations

    def rotation(self, r: int) -> list[Op]:
        from hg64spark import agg, relational, transcripts
        from hg64spark.sketches import HLL, KLL

        spark, tr, n = self.spark, self.tracer, self.n_rows

        def table():
            return spark.read.parquet(self.path)

        def latency(cols=("conv_id", "turn_idx", "tool", "ts")):
            return tr.call("transcripts.with_latency", transcripts.with_latency, table().select(*cols))

        def rows_of(df):
            return df.columns, self.action(df.collect)

        def same(key):
            def check(res):
                cols, rows = res
                got = norm_rows(cols, rows)
                expect(got == self.expected[key], f"{key}: {len(got)} rows differ from the oracle's {len(self.expected[key])}")

            return check

        def q_tool():
            sk = tr.call("agg.hg64_agg", agg.hg64_agg, latency(), "latency_us", ["tool"], SIGBITS)
            return rows_of(tr.call("agg.hg64_quantiles", agg.hg64_quantiles, sk, ["tool"], QS))

        def q_tool_rel():
            lat = latency().select("tool", "latency_us")
            return rows_of(
                tr.call(
                    "relational.hg64_quantiles_relational",
                    relational.hg64_quantiles_relational, lat, "latency_us", QS, ["tool"], SIGBITS,
                )
            )

        def q_per_conv():
            lat = latency(("conv_id", "turn_idx", "ts"))
            sk = tr.call("agg.hg64_agg", agg.hg64_agg, lat, "latency_us", ["conv_id"], SIGBITS)
            return self.action(sk.collect)

        def check_per_conv(rows):
            h = hashlib.sha256()
            for row in sorted(rows, key=lambda x: x["conv_id"]):
                h.update(row["conv_id"].encode() + bytes(row["sketch"]))
            expect(h.hexdigest() == self.expected["per_conv_sha"], "per-conversation hg64 blobs differ from the local build")

        def sketch_by_tool(make, deser):
            def run():
                lat = latency(("conv_id", "turn_idx", "tool", "ts")).filter("latency_us IS NOT NULL")
                sk = tr.call("agg.sketch_agg", agg.sketch_agg, lat, "latency_us", ["tool"], make, deser)
                return self.action(sk.collect)

            return run

        def check_rank(deser, label):
            eps = KLL.rank_error_bound(200) + 0.02

            def check(rows):
                expect(len(rows) == len(self.tool_values), f"{label}: {len(rows)} tools, expected {len(self.tool_values)}")
                for row in rows:
                    vals = self.tool_values[row["tool"]]
                    sk = deser(bytes(row["sketch"]))
                    expect(int(sk.n) == len(vals), f"{label}/{row['tool']}: n={sk.n}, expected {len(vals)}")
                    est = sk.value_at_quantile(PROBE_QS)
                    ranks = np.searchsorted(vals, est, side="right") / len(vals)
                    expect(bool(np.all(np.abs(ranks - PROBE_QS) <= eps)), f"{label}/{row['tool']}: rank error beyond {eps:.4f}")

            return check

        def q_hll():
            sk = tr.call("relational.hll_agg_relational", relational.hll_agg_relational, table().select("conv_id"), "conv_id", [], 14)
            return self.action(sk.collect)

        def check_hll(rows):
            est = HLL.deserialize(bytes(rows[0]["sketch"])).estimate()
            exact = self.expected["distinct_convs"]
            expect(abs(est - exact) <= 3 * HLL.error_bound(14) * exact, f"hll: estimate {est:.1f} vs exact {exact}")

        return [
            Op("agg.hg64_quantiles.tool", q_tool, same("tool_quantiles"), n),
            Op("relational.hg64_quantiles_relational.tool", q_tool_rel, same("tool_quantiles"), n),
            Op("agg.hg64_agg.conv", q_per_conv, check_per_conv, n),
            Op("agg.sketch_agg.kll", sketch_by_tool(lambda: KLL(200), KLL.deserialize), check_rank(KLL.deserialize, "kll"), n),
            Op("relational.hll_agg_relational", q_hll, check_hll, n),
        ]
