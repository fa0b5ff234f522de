"""Tests of the benchmark's own arithmetic and of its declaration.

    python3 -m pytest perfbench -q

No Spark session is started: the status-store arithmetic is tested on the
plain values ``tracing.SparkAccounting`` reads.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import stats

HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------ tail percentile


def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct, beyond = stats.tail(values)
    assert (value, pct, beyond) == (90, 90.0, 10)
    assert sum(v > value for v in values) == 10


def test_tail_is_order_insensitive_and_uses_ranks():
    values = [5.0, 1.0, 3.0] + [100.0] * 10
    value, pct, beyond = stats.tail(values)
    assert value == 5.0 and beyond == 10
    assert pct == pytest.approx(100 * 3 / 13)


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct, beyond = stats.tail([float(x) for x in range(11, 0, -1)])
    assert (value, beyond) == (1.0, 10)


def test_tail_with_too_few_samples_reports_max_and_no_samples_beyond():
    value, pct, beyond = stats.tail([0.3, 0.1, 0.2])
    assert (value, pct, beyond) == (0.3, 100.0, 0)
    assert stats.tail([]) == (0.0, 0.0, 0)


# ------------------------------------------------------------------ self time


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [
        _span(0, None, 0, 100),
        _span(1, 0, 10, 40),
        _span(2, 0, 30, 60),  # overlaps span 1 by 10
        _span(3, 0, 90, 120),  # runs past the parent: clipped to 10
        _span(4, 1, 15, 20),  # grandchild: only span 1 loses it
    ]
    selfs = stats.self_times(spans)
    assert selfs[0] == 100 - (60 - 10) - (100 - 90)
    assert selfs[1] == 30 - 5
    assert selfs[2] == 30
    assert selfs[4] == 5


def test_self_times_of_nested_spans_sum_to_the_root():
    spans = [
        _span(0, None, 0, 1000),
        _span(1, 0, 100, 400),
        _span(2, 1, 150, 300),
        _span(3, 0, 500, 900),
    ]
    assert sum(stats.self_times(spans).values()) == 1000


def test_contained_child_is_not_counted_twice():
    spans = [_span(0, None, 0, 50), _span(1, 0, 10, 40), _span(2, 0, 20, 30)]
    assert stats.self_times(spans)[0] == 20


# --------------------------------------------------- Spark metric strings


@pytest.mark.parametrize(
    "text, total",
    [
        ("337 ms", 337.0),
        ("0 ms", 0.0),
        ("1.0 s", 1000.0),
        ("1.1 m", 66_000.0),
        ("2 h", 7_200_000.0),
        ("31.1 KiB", 31.1 * 1024),
        ("0.0 B", 0.0),
        ("2.5 MiB", 2.5 * 1024**2),
        ("1.5 GiB", 1.5 * 1024**3),
        ("53,722", 53_722.0),
        ("8", 8.0),
    ],
)
def test_parse_single_values(text, total):
    assert stats.parse_spark_metric(text) == {"total": pytest.approx(total)}


def test_parse_total_min_med_max_form():
    text = "total (min, med, max (stageId: taskId))\n81.3 KiB (16.5 KiB, 20.4 KiB, 24.2 KiB (stage 1.0: task 3))"
    got = stats.parse_spark_metric(text)
    assert got == {
        "total": pytest.approx(81.3 * 1024),
        "min": pytest.approx(16.5 * 1024),
        "med": pytest.approx(20.4 * 1024),
        "max": pytest.approx(24.2 * 1024),
    }


def test_parse_timing_total_in_minutes_with_seconds_breakdown():
    text = "total (min, med, max (stageId: taskId))\n1.1 m (1.0 s, 31.3 s, 33.0 s (stage 4.0: task 17))"
    got = stats.parse_spark_metric(text)
    assert got["total"] == pytest.approx(66_000.0)
    assert (got["min"], got["med"], got["max"]) == (1000.0, 31_300.0, 33_000.0)


def test_parse_counts_with_thousands_separators_in_breakdown():
    text = "total (min, med, max (stageId: taskId))\n1,234,567 (100, 1,000, 2,000 (stage 0.0: task 1))"
    got = stats.parse_spark_metric(text)
    assert got == {"total": 1_234_567.0, "min": 100.0, "med": 1_000.0, "max": 2_000.0}


def test_parse_average_form_has_no_total():
    text = "(min, med, max (stageId: taskId))\n(1.1, 1.2, 1.4 (stage 2.0: task 9))"
    got = stats.parse_spark_metric(text)
    assert got == {"min": 1.1, "med": 1.2, "max": 1.4}
    assert stats.metric_total(text) == 1.2


@pytest.mark.parametrize("text", ["", "n/a", "3 parsecs"])
def test_parse_rejects_unknown_forms(text):
    with pytest.raises(ValueError):
        stats.parse_spark_metric(text)


# ------------------------------------------------- status-store deltas


def _stage(sid, status="COMPLETE", **kw):
    base = {k: 0.0 for k in stats.STAGE_FIELDS}
    base.update(kw)
    return {"stage_id": sid, "status": status, **base}


def test_stage_deltas_sum_last_attempts_once_and_skip_reused_stages():
    stages = [
        _stage(1, run_ms=100, cpu_ms=80, tasks=4, shuffle_write_b=1024),
        _stage(2, run_ms=50, gc_ms=5, tasks=1, shuffle_read_b=1024, spill_b=10),
        _stage(2, run_ms=50, gc_ms=5, tasks=1, shuffle_read_b=1024, spill_b=10),  # same stage, second job
        _stage(3, status="SKIPPED", run_ms=999, tasks=4),
    ]
    got = stats.stage_deltas(stages, wall_ms=200, cores=4)
    assert got["stages"] == 2
    assert got["run_ms"] == 150 and got["cpu_ms"] == 80 and got["gc_ms"] == 5
    assert got["tasks"] == 5
    assert got["shuffle_read_b"] == 1024 and got["shuffle_write_b"] == 1024 and got["spill_b"] == 10
    assert got["slot_idle_ms"] == 200 * 4 - 150


def test_slot_idle_is_floored_at_zero():
    got = stats.stage_deltas([_stage(1, run_ms=5000)], wall_ms=100, cores=4)
    assert got["slot_idle_ms"] == 0.0


def test_stage_deltas_of_an_operation_without_jobs():
    got = stats.stage_deltas([], wall_ms=10, cores=4)
    assert got["stages"] == 0 and got["run_ms"] == 0 and got["slot_idle_ms"] == 40


# ------------------------------------------------------------ inputs


def test_segments_hold_exact_row_counts_and_never_share_a_conversation():
    import numpy as np

    from perfbench.inputs import cut_segments

    conv = np.repeat(np.array(["a", "b", "c", "d", "e"], dtype=object), [3, 5, 1, 4, 2])
    cuts = cut_segments(conv, [4, 3, 2])
    # "b" keeps its first turn and the next segment starts at "c"; "d" keeps
    # two turns and the next segment starts at "e"
    assert cuts == [(0, 4), (8, 11), (13, 15)]
    assert all(z - a == n for (a, z), n in zip(cuts, [4, 3, 2]))
    seen = [set(conv[a:z]) for a, z in cuts]
    assert all(not (x & y) for i, x in enumerate(seen) for y in seen[i + 1 :])
    assert cut_segments(conv, [4, 3, 3]) is None


# ------------------------------------------------------------ end-to-end


def test_times_are_scaled_to_the_nominal_reference_speed():
    from perfbench.harness import REF_NOMINAL_MS, Runner, Sample, end_to_end
    from perfbench.tracing import Tracer

    runner = Runner(Tracer(enabled=False))
    walls = [10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120]  # ms
    runner.samples = [Sample(i, "op", w * 1_000_000, 100, True, False, True) for i, w in enumerate(walls)]
    runner.ref_ms = [REF_NOMINAL_MS, 3 * REF_NOMINAL_MS, REF_NOMINAL_MS]
    raw, notes = end_to_end(runner, 1.0, 0)
    assert notes["time_scale"] == 1.0
    runner.ref_ms = [2 * REF_NOMINAL_MS, 2 * REF_NOMINAL_MS, 0.1]  # a machine running at half speed
    half, notes = end_to_end(runner, 1.0, 0)
    assert notes["time_scale"] == 0.5
    assert raw["op_p50_s"][0] == pytest.approx(0.065) and half["op_p50_s"][0] == pytest.approx(0.0325)
    assert raw["op_tail_s"][0] == pytest.approx(0.020) and half["op_tail_s"][0] == pytest.approx(0.010)
    assert half["rows_per_s"][0] == pytest.approx(2 * raw["rows_per_s"][0])
    assert raw["setup_s"][0] == 1.0 and half["setup_s"][0] == 0.5


# ------------------------------------------------------------ declaration


def test_benchmark_json_matches_what_the_runner_prints():
    from perfbench import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        decl = json.load(fh)
    assert [w["name"] for w in decl["workloads"]] == list(run.workloads())
    assert [m["name"] for m in decl["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in decl["per_layer"]] == run.per_layer_metrics()
    assert len(decl["per_layer"]) <= 128
    setup = next(m for m in decl["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in decl["end_to_end"])
