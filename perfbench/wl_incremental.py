"""Part ``incremental`` of the ``pipeline`` workload: writes beside reads.
Seeded transcript batches of ``inputs.BATCH_ROWS`` turns, cut from the
library's ``synthetic_transcripts`` after the ``rollup`` table, land one per
rotation, each holding its own conversations (the file-local layout
``checkpoint`` assumes).  A rotation is:

1. land the next batch (a file copy, timed with the next step, so that a
   failure to land counts as a failed operation), then
   ``CheckpointedSketchAgg.process`` over every landed file, which builds
   Arrow partials for the new file only;
2. a simulated kill: the run just committed loses its ``_SUCCESS`` marker
   (untimed), then a resume: ``process()`` again, which must replay exactly
   that run's file, and ``result()``, the ``applyInPandas`` merge over all
   committed partials with one group per conversation (timed as
   ``resume_s``);
3. one ``StreamingSketch`` ``availableNow`` pass over the landing directory,
   then its ``result()``;
4. ``StreamingSketch.compact()``.

Every result is compared with per-conversation hg64 blobs built with the
local tier before set-up; at the end, a single-shot ``agg.sketch_agg`` over
all landed files must give the same bytes.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs, stats
from perfbench.harness import Op, expect, span_durations_ms
from perfbench.spark_base import SparkPart


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Incremental(SparkPart):
    name = "incremental"

    def prepare(self) -> None:
        from hg64spark.hg64 import HG64

        segments = inputs.transcript_segments(self.ctx.cache_root, self.ctx.seed)[1:]
        self.batches = [os.path.join(seg, "part-00000.parquet") for seg in segments]
        self.batch_rows = []
        self.batch_blobs = []
        for path in self.batches:
            df = pq.read_table(path, columns=["conv_id", "latency_us"]).to_pandas()
            self.batch_rows.append(len(df))
            df = df[df["latency_us"].notna()]
            self.batch_blobs.append(
                {c: HG64().add_values(g["latency_us"].to_numpy(np.int64)).serialize() for c, g in df.groupby("conv_id")}
            )
        self.land_dir = os.path.join(self.ctx.work_dir, "landing")
        self.ckpt_dir = os.path.join(self.ctx.work_dir, "checkpoint")
        self.state_dir = os.path.join(self.ctx.work_dir, "stream-state")
        self.stream_ckpt = os.path.join(self.ctx.work_dir, "stream-ckpt")
        os.makedirs(self.land_dir)
        self.landed: list[str] = []
        self.replayed: list[int] = []
        self.next_batch = 0

    def bind(self, spark) -> None:
        from hg64spark.checkpoint import CheckpointedSketchAgg
        from hg64spark.streaming import StreamingSketch

        super().bind(spark)
        self.ckpt = CheckpointedSketchAgg(self.ckpt_dir, "latency_us", ["conv_id"])
        self.stream = StreamingSketch(self.state_dir, "latency_us", ["conv_id"])
        self.schema = self.spark.read.parquet(self.batches[0]).schema
        if self.ctx.trace:
            # spans inside process(): wrap the instance's bound method
            orig = self.ckpt.done_files
            self.ckpt.done_files = lambda spark: self.tracer.call("checkpoint.done_files", orig, spark)

    def _expected(self) -> dict[str, bytes]:
        out: dict[str, bytes] = {}
        for blobs in self.batch_blobs[: len(self.landed)]:
            out.update(blobs)
        return out

    def _check_result(self, rows, label: str) -> None:
        got = {r["conv_id"]: bytes(r["sketch"]) for r in rows}
        want = self._expected()
        expect(len(got) == len(want), f"{label}: {len(got)} conversations, expected {len(want)}")
        expect(got == want, f"{label}: per-conversation blobs differ from the local build")

    def _land(self, b: int) -> str:
        """Land batch ``b``; returns its landed path."""
        if b >= len(self.batches):
            raise RuntimeError(f"incremental: more than {len(self.batches)} rotations; raise inputs.MAX_BATCHES")
        dst = os.path.join(self.land_dir, f"batch-{b:04d}.parquet")
        shutil.copyfile(self.batches[b], dst)
        self.landed.append(dst)
        return os.path.abspath(dst)

    def rotation(self, r: int) -> list[Op]:
        # set-up runs the first rotation too, so batches count across both
        b = self.next_batch
        self.next_batch += 1
        tr, spark = self.tracer, self.spark
        rows = self.batch_rows[b] if b < len(self.batches) else 0
        new: list[str] = []

        def process():
            new.append(self._land(b))
            return tr.call("checkpoint.process", self.ckpt.process, spark, list(self.landed))

        def check_processed(done):
            expect(done == new, f"process: processed {len(done)} files, expected only the new batch")
            self._kill()

        def resume():
            done = tr.call("checkpoint.process", self.ckpt.process, spark, list(self.landed))
            with tr.span("checkpoint.result"):  # result() and the merge it plans
                out = self.action(self.ckpt.result(spark).collect)
            return done, out

        def check_resume(res):
            done, out = res
            self.replayed.append(len(done))
            expect(done == new, f"resume: replayed {len(done)} files, the killed run held {len(new)}")
            self._check_result(out, "resume")

        def stream_pass():
            sdf = spark.readStream.schema(self.schema).parquet(self.land_dir)
            q = tr.call("streaming.start", self.stream.start, sdf, self.stream_ckpt, available_now=True)
            self.action(q.awaitTermination)
            return q.exception()

        def check_stream(exc):
            expect(exc is None, f"streaming pass failed: {exc}")

        def stream_result():
            with tr.span("streaming.result"):
                return self.action(self.stream.result(spark).collect)

        def compact():
            tr.call("streaming.compact", self.stream.compact, spark)
            return self.stream._batch_dirs()

        def check_compact(dirs):
            # the first pass has one batch and nothing to fold
            expect(len(dirs) == 1, f"compact: {len(dirs)} state directories stay visible, expected 1")

        return [
            Op("checkpoint.process", process, check_processed, rows),
            Op("checkpoint.resume", resume, check_resume, rows),
            Op("streaming.batch", stream_pass, check_stream, rows),
            Op("streaming.result", stream_result, lambda rs: self._check_result(rs, "stream result"), 0),
            Op("streaming.compact", compact, check_compact, 0),
        ]

    def _kill(self) -> None:
        """Make the newest committed checkpoint run look like a killed job."""
        runs = [d for d in glob.glob(os.path.join(self.ckpt_dir, "run=*")) if os.path.exists(os.path.join(d, "_SUCCESS"))]
        newest = max(runs, key=lambda d: os.path.getmtime(os.path.join(d, "_SUCCESS")))
        os.remove(os.path.join(newest, "_SUCCESS"))

    def final_checks(self) -> list[Op]:
        from hg64spark import agg

        def run():
            df = agg.sketch_agg(self.spark.read.parquet(*self.landed), "latency_us", ["conv_id"])
            return df.collect()

        return [Op("agg.sketch_agg.single_shot", run, lambda rs: self._check_result(rs, "single-shot"), 0)]

    def state(self) -> tuple[int, float]:
        f1, b1 = dir_stats(self.ckpt_dir)
        f2, b2 = dir_stats(self.state_dir)
        return f1 + f2, (b1 + b2) / (1024.0 * 1024.0)

    @staticmethod
    def resume_s(runner) -> float:
        """Median time of a timed resume: ``process()`` committing the killed
        run's file again, then ``result()`` returning."""
        return stats.median([s.wall_ns / 1e9 for s in runner.samples if s.timed and s.name == "checkpoint.resume"])

    def report(self, runner) -> dict:
        files, mb = self.state()
        return {
            "resume_s": self.resume_s(runner),
            "files_replayed": self.replayed,
            "state_files": files,
            "state_mb": mb,
        }

    def layers(self, runner) -> dict[str, float]:
        out = {}
        tr = self.tracer
        out["checkpoint.process_ms"] = stats.median(span_durations_ms(tr, "checkpoint.process"))
        out["checkpoint.done_files_ms"] = stats.median(span_durations_ms(tr, "checkpoint.done_files"))
        out["checkpoint.result_ms"] = stats.median(span_durations_ms(tr, "checkpoint.result"))
        out["checkpoint.files_replayed"] = sum(self.replayed) / len(self.replayed)
        out["checkpoint.state_files"] = float(dir_stats(self.ckpt_dir)[0])
        out["streaming.batch_ms"] = stats.median(
            [s.wall_ns / 1e6 for s in runner.timed(traced=True) if s.name == "streaming.batch"]
        )
        out["streaming.result_ms"] = stats.median(span_durations_ms(tr, "streaming.result"))
        out["streaming.compact_ms"] = stats.median(span_durations_ms(tr, "streaming.compact"))
        out["streaming.state_files"] = float(dir_stats(self.state_dir)[0])
        out["resume_s"] = self.resume_s(runner)
        out["state_mb"] = self.state()[1]
        return out
