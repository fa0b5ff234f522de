"""The benchmark's own arithmetic: the tail-percentile rule, span self time,
Spark's formatted SQL-metric strings, and per-operation status-store deltas.

Everything here is pure Python over plain values so that it can be unit
tested without Spark (see ``test_perfbench.py``).
"""

from __future__ import annotations

import re
import statistics
from collections.abc import Iterable, Sequence

#: a tail percentile must leave at least this many samples above it
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile of ``values`` that has at least ``beyond``
    samples strictly past it in rank: the ``(n - beyond)``-th smallest value.

    Returns ``(value, percentile, samples_beyond)``.  With ``n <= beyond`` no
    percentile qualifies; the maximum is returned with ``samples_beyond`` 0
    so the caller can state that the rule was not met.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return float(xs[-1]), 100.0, 0
    idx = n - beyond - 1
    return float(xs[idx]), 100.0 * (idx + 1) / n, n - idx - 1


def self_times(spans: Iterable[dict]) -> dict[int, int]:
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children.  Children may overlap each other (for
    example a background thread's spans); the covered part is the union of
    their intervals clipped to the parent, so overlap is not subtracted
    twice.  Spans are dicts with ``id``, ``parent``, ``start`` and ``end``.
    """
    spans = list(spans)
    kids: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0
        cur_lo = cur_hi = None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


_TIME_UNITS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_SIZE_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "KB": 1e3,
    "MB": 1e6,
    "GB": 1e9,
}
_NUM = r"-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?"
_QUANTITY = re.compile(rf"^\s*({_NUM})\s*([A-Za-z]*)")


def _quantity(text: str) -> float:
    m = _QUANTITY.match(text)
    if not m:
        raise ValueError(f"not a Spark metric quantity: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return value
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in Spark metric {text!r}")


def parse_spark_metric(text: str) -> dict[str, float]:
    """Parse one SQL metric as the status store formats it.

    Forms handled (times are returned in ms, sizes in bytes, counts as is):

    * ``"337 ms"``, ``"1.1 m"``, ``"31.1 KiB"``, ``"53,722"``;
    * ``"total (min, med, max (stageId: taskId))\\n81.3 KiB (16.5 KiB, 20.4
      KiB, 24.2 KiB (stage 1.0: task 3))"`` -> total, min, med and max;
    * ``"(min, med, max (stageId: taskId))\\n(1.1, 1.2, 1.4 (stage 2.0: task
      9))"``, the form of average metrics, which has no total -> min, med
      and max only.
    """
    text = text.strip()
    if "\n" in text:
        text = text.split("\n", 1)[1].strip()
    out: dict[str, float] = {}
    head, sep, rest = text.partition("(")
    if head.strip():
        out["total"] = _quantity(head)
    if sep:
        rest = re.sub(r"\(stage[^)]*\)\)?\s*$", "", rest).rstrip(") ")
        # Spark joins the three with ", "; a bare "," is a thousands separator
        parts = [p for p in (x.strip() for x in re.split(r",\s+", rest)) if p]
        if len(parts) == 3:
            for key, part in zip(("min", "med", "max"), parts):
                out[key] = _quantity(part)
    if not out:
        raise ValueError(f"empty Spark metric: {text!r}")
    return out


def metric_total(text: str) -> float:
    """The additive value of a metric: its total, or its median for the
    average form that has no total."""
    parsed = parse_spark_metric(text)
    return parsed["total"] if "total" in parsed else parsed.get("med", 0.0)


STAGE_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_b", "shuffle_write_b", "spill_b", "tasks")


def stage_deltas(stages: Iterable[dict], wall_ms: float, cores: int) -> dict[str, float]:
    """Sum the last attempts of one operation's stages.

    ``stages`` are dicts read from the status store (``status`` plus the
    fields of :data:`STAGE_FIELDS`); a stage id seen twice is counted once
    and skipped stages (their output reused from an earlier job) count as
    no work.  ``slot_idle_ms`` is the time the operation's task slots ran
    no task: the operation's wall time times cores, minus task run time,
    floored at 0 — the time work waited on the driver, on scheduling or on
    Python worker start-up rather than running.
    """
    seen: dict[int, dict] = {}
    for st in stages:
        seen[st["stage_id"]] = st
    out = {k: 0.0 for k in STAGE_FIELDS}
    out["stages"] = 0.0
    for st in seen.values():
        if st["status"] == "SKIPPED":
            continue
        out["stages"] += 1
        for k in STAGE_FIELDS:
            out[k] += st[k]
    out["slot_idle_ms"] = max(0.0, wall_ms * cores - out["run_ms"])
    return out

