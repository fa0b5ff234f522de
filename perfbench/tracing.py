"""Spans recorded around the benchmark's calls into the library, and Spark's
own accounting read per operation from the status store.

Spans live in memory and are written out once, at the end of a run.  Each
span records its name, start and end (``perf_counter_ns``), its parent span
and the operation it belongs to.  The library itself is not instrumented:
every span is opened in the benchmark's files.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext

from perfbench import stats

#: SQL plan nodes that run Python workers, and the metrics read off them
PYTHON_NODES = ("MapInArrow", "FlatMapGroupsInPandas", "MapInPandas")
PYTHON_METRICS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "returned_mb",
}
HASH_AGG_METRICS = {
    "time in aggregation build": "time_ms",
    "avg hash probes per key": "probes_per_key",
}
_MB = 1024.0 * 1024.0


class Tracer:
    """Span recorder.  Disabled, ``span`` is a shared no-op context."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._null = nullcontext()

    def span(self, name: str):
        return self._span(name) if self.enabled else self._null

    @contextmanager
    def _span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter_ns(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter_ns()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span named ``name``."""
        with self.span(name):
            return fn(*args, **kwargs)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def module_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


class SparkAccounting:
    """Per-operation deltas of Spark's status store.

    ``begin()`` marks the next job id and SQL execution count; ``end``
    waits for the listener bus to drain, then sums the last attempt of every
    stage of every job started since the mark, and the SQL metrics of every
    execution started since it.  Job ids rather than a job group select the
    jobs, because a streaming query runs its jobs under its own group.  The
    loop is closed (one operation at a time), so nothing else starts jobs.
    """

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self._status = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._job_mark = 0
        self._exec_mark = 0

    def begin(self) -> None:
        self._job_mark = self._dag.numTotalJobs()
        self._exec_mark = self._sql.executionsCount()

    def end(self, wall_ms: float) -> dict[str, float]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = range(self._job_mark, self._dag.numTotalJobs())
        stages = []
        for jid in job_ids:
            sids = self._status.job(jid).stageIds()
            for i in range(sids.length()):
                stages.append(self._stage(sids.apply(i)))
        out = stats.stage_deltas(stages, wall_ms, self.cores)
        out["jobs"] = float(len(job_ids))
        out.update(self._sql_metrics())
        return out

    def _stage(self, sid: int) -> dict:
        st = self._status.lastStageAttempt(sid)
        return {
            "stage_id": sid,
            "status": str(st.status()),
            "run_ms": float(st.executorRunTime()),
            "cpu_ms": st.executorCpuTime() / 1e6,
            "gc_ms": float(st.jvmGcTime()),
            "shuffle_read_b": float(st.shuffleReadBytes()),
            "shuffle_write_b": float(st.shuffleWriteBytes()),
            "spill_b": float(st.diskBytesSpilled()),
            "tasks": float(st.numCompleteTasks()),
        }

    def _sql_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        probes: list[float] = []
        n_new = self._sql.executionsCount() - self._exec_mark
        if n_new <= 0:
            return out
        execs = self._sql.executionsList(self._exec_mark, n_new)
        for i in range(execs.length()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.length()):
                node = nodes.apply(n)
                name = node.name().strip()
                if name in PYTHON_NODES:
                    table, prefix = PYTHON_METRICS, f"python.{name}."
                elif name == "HashAggregate":
                    table, prefix = HASH_AGG_METRICS, "sql.HashAggregate."
                else:
                    continue
                metrics = node.metrics()
                for m in range(metrics.length()):
                    metric = metrics.apply(m)
                    key = table.get(metric.name())
                    if key is None:
                        continue
                    text = values.get(metric.accumulatorId())
                    if not text.isDefined():
                        continue
                    value = stats.metric_total(text.get())
                    if key == "probes_per_key":
                        probes.append(value)
                        continue
                    if key.endswith("_mb"):
                        value /= _MB
                    out[prefix + key] = out.get(prefix + key, 0.0) + value
        if probes:
            out["sql.HashAggregate.probes_per_key"] = sum(probes) / len(probes)
        return out

