"""Seeded input generators.  The same seed gives the same inputs, byte for
byte; inputs are written once per seed under the cache directory, outside
every timed region, and reused by later runs with that seed.

Value streams and corpus tables come from numpy; transcripts come from the
library's own generator, run in a child process with a Spark session of its
own.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: turns in the ``rollup`` table (written as ``ROLLUP_PARTS`` files) and in
#: each of the ``MAX_BATCHES`` batches ``incremental`` can land
ROLLUP_ROWS = 60_000
ROLLUP_PARTS = 4
BATCH_ROWS = 4_500
MAX_BATCHES = 12


def cached(cache_root: str, workload: str, seed: int, params: tuple, build) -> str:
    """The input directory of ``workload`` at ``seed``, built with
    ``build(tmp_dir)`` unless a completed copy exists.  The directory name
    carries a digest of ``params`` (the generator's sizes), so inputs made
    with other sizes are never reused; the rename makes a half-written copy
    invisible."""
    digest = hashlib.sha1(repr(params).encode()).hexdigest()[:10]
    path = os.path.join(cache_root, f"{workload}-{digest}-seed{seed}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


# ------------------------------------------------------------- value streams


def latency_us(rng: np.random.Generator, n: int) -> np.ndarray:
    """Heavy-tailed inter-turn latency in microseconds: exponential (mean
    30 s) scaled by Pareto noise."""
    gap = rng.exponential(30e6, n) * (1.0 + rng.pareto(1.5, n) / 10.0)
    return np.maximum(gap, 1.0).astype(np.int64)


def text_lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.clip(np.ceil(rng.lognormal(4.0, 1.2, n)), 1, 32_768).astype(np.int64)


def conv_ids(rng: np.random.Generator, n: int, pool: int) -> np.ndarray:
    """Conversation ids reused with Pareto-skewed frequency."""
    idx = np.minimum(rng.pareto(1.16, n) * pool / 20.0, pool - 1).astype(np.int64)
    return np.array([f"conv_{i:08d}" for i in idx], dtype=object)


# --------------------------------------------------------------- transcripts


def transcript_segments(cache_root: str, seed: int) -> list[str]:
    """The transcript inputs at ``seed``: the ``rollup`` table, then the
    ``incremental`` batches, one directory of parquet files each."""
    segs = [(ROLLUP_ROWS, ROLLUP_PARTS)] + [(BATCH_ROWS, 1)] * MAX_BATCHES
    path = cached(cache_root, "transcripts", seed, tuple(segs), lambda d: transcripts(seed, d, segs))
    return [os.path.join(path, f"segment-{i:04d}") for i in range(len(segs))]


def transcripts(seed: int, out_dir: str, segments: list[tuple[int, int]]) -> None:
    """Transcript segments of exactly ``rows`` turns each, for each
    ``(rows, files)`` of ``segments``, cut from the library's own seeded
    generator (``transcripts.synthetic_transcripts``: Pareto-skewed
    conversation sizes, a few conversations of thousands of turns) and
    written as ``files`` parquet files under ``out_dir/segment-<i>/``.

    The generator is a Spark plan, so it runs in a child process with a
    session of its own, stopped before this returns: no JVM warmed by
    generation survives into the timed run."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = [sys.executable, "-m", "perfbench.inputs", "transcripts", str(seed), out_dir]
    args += [f"{rows}:{files}" for rows, files in segments]
    subprocess.run(args, cwd=root, check=True, timeout=600, stdout=subprocess.DEVNULL)


def cut_segments(conv: np.ndarray, budgets: list[int]) -> list[tuple[int, int]] | None:
    """Row ranges ``[start, end)`` of ``len(budgets)`` segments of a table
    sorted by conversation and turn: segment ``i`` holds exactly
    ``budgets[i]`` rows, whole conversations except its last, which keeps
    its first turns; the next segment starts at the next conversation, so no
    conversation spans two segments.  None when the table is too short."""
    out = []
    pos = 0
    n = len(conv)
    for b in budgets:
        end = pos + b
        if end > n:
            return None
        out.append((pos, end))
        pos = end
        while 0 < pos < n and conv[pos] == conv[pos - 1]:
            pos += 1
    return out


def _with_latency(table: pa.Table) -> pa.Table:
    """Sort by (conv_id, turn_idx), make ``ts`` a naive timestamp, and add
    ``latency_us``: the gap to the previous turn of the conversation, NULL on
    its first turn (what ``transcripts.with_latency`` computes)."""
    table = table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    conv = table.column("conv_id").to_numpy(zero_copy_only=False)
    first = np.ones(len(conv), dtype=bool)
    first[1:] = conv[1:] != conv[:-1]
    gap = np.diff(ts, prepend=ts[:1])
    table = table.set_column(table.schema.get_field_index("ts"), "ts", pa.array(ts, type=pa.timestamp("us")))
    return table.append_column("latency_us", pa.array(gap, mask=first))


def _transcripts_child(seed: int, out_dir: str, segments: list[tuple[int, int]]) -> None:
    from hg64spark.transcripts import synthetic_transcripts
    from perfbench import box as boxmod

    cores = boxmod.usable_cores()
    work = os.path.join(out_dir, "_spark")
    b = boxmod.Box(cores, cores, boxmod.mem_total_mb(), 1024, cores)
    spark = boxmod.start_session(b, work, "perfbench-inputs")
    try:
        # the first conversations of a larger table are those of a smaller
        # one (every column hashes (conversation, turn, seed)), so doubling
        # until the budgets fit keeps the result a function of the seed alone
        n_convs = 4096
        while True:
            table = _with_latency(synthetic_transcripts(spark, n_convs=n_convs, seed=seed, partitions=cores).toArrow())
            conv = table.column("conv_id").to_numpy(zero_copy_only=False)
            cuts = cut_segments(conv, [rows for rows, _ in segments])
            if cuts is not None:
                break
            n_convs *= 2
    finally:
        boxmod.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for i, ((a, z), (rows, files)) in enumerate(zip(cuts, segments)):
        seg = os.path.join(out_dir, f"segment-{i:04d}")
        os.makedirs(seg)
        for k in range(files):
            lo, hi = a + rows * k // files, a + rows * (k + 1) // files
            pq.write_table(table.slice(lo, hi - lo), os.path.join(seg, f"part-{k:05d}.parquet"))


# -------------------------------------------------------------------- corpus

_WORDS = (
    "hash order table window row batch big group a spark filter sort join line data "
    "column key merge agg small scan vector stream value customer slow part fast query the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")


def corpus_tables(rng: np.random.Generator, out_dir: str, n_docs: int, n_events: int) -> None:
    """``documents`` and ``events`` tables in the schema the library's corpus
    operators read (one parquet file per table)."""
    words = np.asarray(_WORDS, dtype=object)
    lens = rng.integers(8, 90, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    lang = np.asarray(_LANGS, dtype=object)[
        rng.choice(len(_LANGS), n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    ]
    ids = np.arange(n_docs, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "doc_id": ids,
                "text": texts,
                "lang": lang,
                "source": [f"src{i % 20}" for i in ids],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(
        rng.exponential(259e6, n_events)
    ).astype(np.int64)
    types = np.asarray(("signup", "error", "click", "view", "purchase"), dtype=object)
    pq.write_table(
        pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": rng.integers(0, 150, n_events).astype(np.int64),
                "event_type": types[rng.integers(0, len(types), n_events)],
                "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )


if __name__ == "__main__":
    import sys

    if len(sys.argv) >= 5 and sys.argv[1] == "transcripts":
        _transcripts_child(int(sys.argv[2]), sys.argv[3], [tuple(map(int, a.split(":"))) for a in sys.argv[4:]])
    else:
        raise SystemExit("usage: python -m perfbench.inputs transcripts <seed> <out_dir> <rows:files>...")
