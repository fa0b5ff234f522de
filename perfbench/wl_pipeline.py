"""Workload ``pipeline``: one Spark session runs three parts, in this order,
in every rotation:

* ``rollup`` (``wl_rollup``): read-only sketch analytics over a transcript
  table — the Spark sketch tier;
* ``incremental`` (``wl_incremental``): batches land beside reads — the
  checkpoint and streaming state;
* ``corpus`` (``wl_corpus``): oracle-gated operator queries — ``dataops``,
  ``queries``, ``multimodal``, ``temporal``.

One session serves all three because a Spark run's fixed cost (JVM start,
then the first operation's JIT and Python-worker start-up, about 20 s on a
4-core machine) would otherwise be paid three times, leaving no time for
the repeated rotations that make the figures steady.  Each part's
operations keep their own names, so the per-operation wall times and the
per-layer metrics still separate the layers.
"""

from __future__ import annotations

import time

from perfbench import box as boxmod
from perfbench import stats
from perfbench.harness import span_layers
from perfbench.tracing import SparkAccounting
from perfbench.wl_corpus import Corpus
from perfbench.wl_incremental import Incremental
from perfbench.wl_rollup import Rollup


class Pipeline:
    name = "pipeline"
    #: two rotations: every operation is timed twice per run
    min_rotations = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.accounting = None
        self.parts = [Rollup(ctx), Incremental(ctx), Corpus(ctx)]

    def prepare(self) -> None:
        for part in self.parts:
            part.prepare()

    def setup(self, runner) -> float:
        """Session start (JVM launch included) plus the first, cold execution
        of every operation of the first rotation.  Output checks run as
        usual and count into the totals."""
        t0 = time.perf_counter()
        self.spark = boxmod.start_session(self.ctx.box, self.ctx.work_dir, "perfbench-pipeline")
        self.session_s = time.perf_counter() - t0
        for part in self.parts:
            part.bind(self.spark)
        if self.ctx.trace:
            self.accounting = SparkAccounting(self.spark, self.ctx.box.cores)
        self.cold_op_s = {}
        for op in self.rotation(0):
            c0 = time.perf_counter()
            runner.run(op, traced=False, timed=False)
            self.cold_op_s[op.name] = time.perf_counter() - c0
        return time.perf_counter() - t0

    def rotation(self, r: int) -> list:
        return [op for part in self.parts for op in part.rotation(r)]

    def final_checks(self) -> list:
        return [op for part in self.parts for op in part.final_checks()]

    def layers(self, runner) -> dict[str, float]:
        out = span_layers(runner)
        out["setup.session_ms"] = self.session_s * 1e3
        out["setup.cold_op_ms"] = stats.median(list(self.cold_op_s.values())) * 1e3
        for part in self.parts:
            out.update(part.layers(runner))
        return out

    def report(self, runner) -> dict:
        out = {"session_s": self.session_s, "cold_op_s": self.cold_op_s}
        for part in self.parts:
            out.update(part.report(runner))
        return out

    def close(self) -> None:
        if self.spark is not None:
            boxmod.stop_session(self.spark)
            self.spark = None
