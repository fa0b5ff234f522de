"""The closed loop shared by every workload: one client issues one
operation at a time, times it, checks its output, and only then issues the
next.  Operations come in rotations (a fixed list per workload); the timed
region runs whole rotations until ``seconds`` have passed and at least the
workload's minimum number of rotations has run.

With tracing on, every timed operation is traced; the time the tracing
itself takes is measured apart and reported as the tracing overhead.
"""

from __future__ import annotations

import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from perfbench import stats
from perfbench.tracing import SparkAccounting, Tracer, module_of

#: the usual median of ``reference_ms()`` in a run on the 4-core machine the
#: benchmark was sized on
REF_NOMINAL_MS = 2.0
#: the runner times the reference work between operations this often
REF_EVERY_S = 0.1
_REF_RNG = np.random.default_rng(0)
_REF_FLOATS = _REF_RNG.random(20_000)
_REF_STRINGS = np.array([f"conv_{i:08d}" for i in _REF_RNG.integers(0, 20_000, 2_000)], dtype=object)
_REF_DICT = {i: i for i in range(2_000)}


def reference_ms() -> float:
    """Wall time in ms of fixed work in the kernels' mix (a Python dict loop,
    a float sort, a unique over strings) that calls no library code.

    The cores of the machine the benchmark was sized on are shared with
    other tenants, and its speed flips between levels about 1.4 times apart
    for seconds to minutes at a time; thread CPU time moves with wall time
    there.  End-to-end times are therefore reported at a nominal speed:
    multiplied by ``REF_NOMINAL_MS`` over the run's median of this."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000):
        acc += _REF_DICT[i] * i
    np.sort(_REF_FLOATS)
    np.unique(_REF_STRINGS)
    return (time.perf_counter() - t0) * 1e3


class CheckFailed(Exception):
    """An operation returned a result that does not match its expectation."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    name: str  # "<module>.<function>[.<variant>]": the library call it makes
    run: Callable[[], object]  # the timed part: call the library, consume the result
    check: Callable[[object], None]  # untimed: raise CheckFailed on a wrong result
    rows: int  # input rows (values, for kernels) the operation consumes


@dataclass
class Sample:
    op_id: int
    name: str
    wall_ns: int
    rows: int
    ok: bool
    traced: bool
    timed: bool


@dataclass
class Runner:
    tracer: Tracer
    accounting: SparkAccounting | None = None
    samples: list[Sample] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    spark_by_op: dict[int, dict] = field(default_factory=dict)
    trace_cost_ns: dict[int, int] = field(default_factory=dict)
    ref_ms: list[float] = field(default_factory=list)
    _ref_at: float = 0.0

    def run(self, op: Op, traced: bool, timed: bool) -> bool:
        if not self.ref_ms or time.perf_counter() - self._ref_at >= REF_EVERY_S:
            self.ref_ms.append(reference_ms())
            self._ref_at = time.perf_counter()
        op_id = len(self.samples)
        self.tracer.enabled = traced
        self.tracer.op_id = op_id if traced else None
        c0 = time.perf_counter_ns()
        if traced and self.accounting is not None:
            self.accounting.begin()
        cost = time.perf_counter_ns() - c0
        ok = True
        t0 = time.perf_counter_ns()
        try:
            with self.tracer.span(op.name):
                result = op.run()
            wall = time.perf_counter_ns() - t0
            op.check(result)
        except Exception as exc:  # an operation failure is counted, not fatal
            wall = time.perf_counter_ns() - t0
            ok = False
            kind = "check" if isinstance(exc, CheckFailed) else "error"
            detail = str(exc) if isinstance(exc, CheckFailed) else traceback.format_exc(limit=4)
            self.failures.append(f"{op.name} [{kind}]: {detail.strip()[:2000]}")
        c0 = time.perf_counter_ns()
        if traced and self.accounting is not None:
            self.spark_by_op[op_id] = self.accounting.end(wall / 1e6)
        if traced:
            self.trace_cost_ns[op_id] = cost + time.perf_counter_ns() - c0
        self.tracer.enabled = False
        self.tracer.op_id = None
        self.samples.append(Sample(op_id, op.name, wall, op.rows, ok, traced, timed))
        return ok

    # ------------------------------------------------------------ summaries

    @property
    def attempted(self) -> int:
        return len(self.samples)

    @property
    def failed(self) -> int:
        return sum(not s.ok for s in self.samples)

    def timed(self, traced: bool = False) -> list[Sample]:
        return [s for s in self.samples if s.timed and s.traced == traced]


def timed_loop(
    runner: Runner, rotation: Callable[[int], list[Op]], seconds: float, trace: bool, min_rotations: int
) -> int:
    """Run whole rotations until ``seconds`` have passed and at least
    ``min_rotations`` have run, so that every run measures the same mix of
    operations.  Returns the count."""
    start = time.perf_counter()
    r = 0
    while True:
        for op in rotation(r):
            runner.run(op, traced=trace, timed=True)
        r += 1
        if r >= min_rotations and time.perf_counter() - start >= seconds:
            return r


def end_to_end(runner: Runner, setup_s: float, peak_rss_b: int, traced: bool = False) -> tuple[dict, dict]:
    """The end-to-end metrics of the timed samples, and the notes that
    qualify them (the tail percentile and sample counts, the reference
    time).  Times, ``setup_s`` included, are at the nominal machine speed:
    multiplied by ``time_scale``, ``REF_NOMINAL_MS`` over the median of the
    reference times the runner took."""
    samples = runner.timed(traced=traced)
    ref_ms = stats.median(runner.ref_ms)
    time_scale = REF_NOMINAL_MS / ref_ms if ref_ms else 1.0
    walls = [s.wall_ns / 1e9 * time_scale for s in samples]
    tail_v, tail_pct, beyond = stats.tail(walls)
    busy = sum(walls)
    metrics = {
        "setup_s": (setup_s * time_scale, "s"),
        "op_p50_s": (stats.median(walls), "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (sum(s.rows for s in samples) / busy if busy else 0.0, "rows/s"),
        "peak_rss_mb": (peak_rss_b / (1024.0 * 1024.0), "MB"),
    }
    notes = {
        "op_samples": len(walls),
        "op_tail_percentile": round(tail_pct, 2),
        "op_tail_samples_beyond": beyond,
        "op_tail_rule_met": beyond >= stats.TAIL_BEYOND,
        "fail_share": runner.failed / runner.attempted if runner.attempted else 0.0,
        "ref_ms_median": ref_ms,
        "time_scale": time_scale,
    }
    return metrics, notes


def op_medians_ms(samples: list[Sample]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for s in samples:
        by.setdefault(s.name, []).append(s.wall_ns / 1e6)
    return {k: stats.median(v) for k, v in by.items()}


def span_layers(runner: Runner) -> dict[str, float]:
    """Per-layer numbers from the traced samples' spans:

    * ``<module>.plan_ms`` — median over traced operations that call the
      module of the self time spent in that module's spans
      (``spark.action_ms`` for the benchmark's own Spark actions);
    * ``spark.*``, ``python.*``, ``sql.*`` — Spark's accounting, mean per
      traced operation;
    * ``trace.overhead_ms`` — mean time per traced operation spent in the
      tracing itself: reading Spark's accounting (outside the operation's
      wall time) plus recording its spans (inside it), at the per-span cost
      measured here on an empty span;
    * ``trace.reconcile_gap_ms`` — the largest difference between an
      operation's wall time and the sum of its spans' self times.
    """
    traced = runner.timed(traced=True)
    by_op: dict[int, list[dict]] = {}
    for x in runner.tracer.spans:
        if x["end"] is not None:
            by_op.setdefault(x["op"], []).append(x)
    out: dict[str, float] = {}
    per_module: dict[str, list[float]] = {}
    gap = 0.0
    for s in traced:
        spans = by_op.get(s.op_id, [])
        selfs = stats.self_times(spans)
        gap = max(gap, abs(s.wall_ns - sum(selfs.values())) / 1e6)
        mods: dict[str, float] = {}
        for x in spans:
            if x["parent"] is None:
                continue
            mods[module_of(x["name"])] = mods.get(module_of(x["name"]), 0.0) + selfs[x["id"]] / 1e6
        for m, v in mods.items():
            per_module.setdefault(m, []).append(v)
    for m, vals in per_module.items():
        out["spark.action_ms" if m == "spark" else f"{m}.plan_ms"] = stats.median(vals)
    out["trace.reconcile_gap_ms"] = gap
    if runner.spark_by_op:
        n = len(traced)
        sums: dict[str, float] = {}
        for s in traced:
            for k, v in runner.spark_by_op.get(s.op_id, {}).items():
                sums[k] = sums.get(k, 0.0) + v
        mb = 1024.0 * 1024.0
        for k, v in sums.items():
            mean = v / n
            if k == "sql.HashAggregate.probes_per_key":
                mean = v / sum(1 for s in traced if k in runner.spark_by_op.get(s.op_id, {}))
            if k.endswith("_b"):
                out[f"spark.{k[:-2]}_mb"] = mean / mb
            elif k.startswith(("python.", "sql.")):
                out[k] = mean
            else:
                out[f"spark.{k}"] = mean
    probe = Tracer(enabled=True)
    t0 = time.perf_counter_ns()
    for _ in range(1000):
        with probe.span("probe"):
            pass
    per_span_ns = (time.perf_counter_ns() - t0) / 1000
    costs = [(runner.trace_cost_ns.get(s.op_id, 0) + per_span_ns * len(by_op.get(s.op_id, []))) / 1e6 for s in traced]
    out["trace.overhead_ms"] = sum(costs) / len(costs) if costs else 0.0
    return out


def span_durations_ms(tracer: Tracer, name: str) -> list[float]:
    return [(s["end"] - s["start"]) / 1e6 for s in tracer.spans if s["name"] == name and s["end"]]
