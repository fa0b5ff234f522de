"""hg64spark benchmark: one closed-loop client drives one seeded workload
through the library's public functions, checks every output, and prints
its metrics.

    python3 perfbench/run.py --workload pipeline --seed 7 --seconds 15 --trace 0

Run it from the root of a source tree that holds ``hg64spark/``.  The last
line of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Lines before it state the box, the
qualifiers of each metric, and any failed check.  See ``README.md`` here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import box as boxmod  # noqa: E402
from perfbench.harness import Runner, end_to_end, op_medians_ms, timed_loop  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

END_TO_END = ("setup_s", "op_p50_s", "op_tail_s", "rows_per_s", "peak_rss_mb")

SKETCHES = ("hg64", "hll", "cms", "kll", "tdigest", "mg", "bloom")
KERNEL_STEPS = (
    ("update_ns_per_value", "ns"),
    ("merge_us", "us"),
    ("serialize_us", "us"),
    ("deserialize_us", "us"),
    ("query_us", "us"),
    ("bytes", "B"),
)
OP_WALLS = (
    "agg.hg64_quantiles.tool",
    "relational.hg64_quantiles_relational.tool",
    "agg.hg64_agg.conv",
    "agg.sketch_agg.kll",
    "relational.hll_agg_relational",
    "checkpoint.process",
    "checkpoint.resume",
    "streaming.batch",
    "streaming.result",
    "streaming.compact",
    "dataops.q_dedup_minhash_lsh",
    "dataops.q_multimodal_image_decode",
    "queries.q_range_join_events",
)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better).  A metric that does
    not apply to a workload reads 0 there."""
    out = []
    for sk in SKETCHES:
        for step, unit in KERNEL_STEPS:
            out.append((f"{sk}.{step}", unit, "lower"))
    out.append(("keymath.value_to_key_ns_per_value", "ns", "lower"))
    for node in ("MapInArrow", "FlatMapGroupsInPandas", "MapInPandas"):
        for m, unit in (("start_ms", "ms"), ("init_ms", "ms"), ("run_ms", "ms"), ("sent_mb", "MB"), ("returned_mb", "MB")):
            out.append((f"python.{node}.{m}", unit, "lower"))
    out += [
        ("sql.HashAggregate.time_ms", "ms", "lower"),
        ("sql.HashAggregate.probes_per_key", "count", "lower"),
        ("spark.shuffle_read_mb", "MB", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.run_ms", "ms", "lower"),
        ("spark.cpu_ms", "ms", "lower"),
        ("spark.gc_ms", "ms", "lower"),
        ("spark.slot_idle_ms", "ms", "lower"),
    ]
    for mod in ("agg", "relational", "transcripts", "dataops", "queries"):
        out.append((f"{mod}.plan_ms", "ms", "lower"))
    out.append(("spark.action_ms", "ms", "lower"))
    out += [
        ("checkpoint.process_ms", "ms", "lower"),
        ("checkpoint.done_files_ms", "ms", "lower"),
        ("checkpoint.result_ms", "ms", "lower"),
        ("checkpoint.files_replayed", "count", "lower"),
        ("checkpoint.state_files", "count", "lower"),
        ("streaming.batch_ms", "ms", "lower"),
        ("streaming.result_ms", "ms", "lower"),
        ("streaming.compact_ms", "ms", "lower"),
        ("streaming.state_files", "count", "lower"),
        ("resume_s", "s", "lower"),
        ("state_mb", "MB", "lower"),
    ]
    for op in OP_WALLS:
        out.append((f"{op}.wall_ms", "ms", "lower"))
    out += [
        ("setup.session_ms", "ms", "lower"),
        ("setup.cold_op_ms", "ms", "lower"),
        ("fail_share", "ratio", "lower"),
        ("gen_s", "s", "lower"),
        ("trace.overhead_ms", "ms", "lower"),
        ("trace.reconcile_gap_ms", "ms", "lower"),
    ]
    return out


def workloads():
    from perfbench.wl_kernels import Kernels
    from perfbench.wl_pipeline import Pipeline

    return {w.name: w for w in (Kernels, Pipeline)}


class Context:
    def __init__(self, root, seed, box, trace, workload):
        self.root = root
        self.seed = seed
        self.box = box
        self.trace = trace
        self.tracer = Tracer(enabled=False)
        self.cache_root = os.path.join(root, ".perfbench_cache")
        self.work_dir = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.results_dir = os.path.join(root, ".perfbench_results")


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None, help="Spark task slots (default: every usable core)")
    return p.parse_args()


def main() -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one string-hash seed for the driver and every Python worker, so
        # that set and dict iteration orders repeat from run to run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "hg64spark", "__init__.py")):
        print(f"perfbench: no hg64spark package under {ROOT}; run from a source tree", file=sys.stderr)
        return 2
    table = workloads()
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(table)}", file=sys.stderr)
        return 2
    box = boxmod.size_box(ROOT, args.cores)
    ctx = Context(ROOT, args.seed, box, bool(args.trace), args.workload)
    os.makedirs(ctx.work_dir)
    os.makedirs(ctx.cache_root, exist_ok=True)
    # Python workers import the library from this tree; scratch files, the
    # JVMs' included (no hsperfdata files in /tmp), stay in it
    tmp = os.path.join(ctx.work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} " + os.environ.get("JAVA_TOOL_OPTIONS", "")
    wl = table[args.workload](ctx)
    boxmod.add_spark_facts(box)
    runner = Runner(ctx.tracer)
    try:
        with boxmod.RssSampler() as rss:
            t0 = time.perf_counter()
            wl.prepare()
            gen_s = time.perf_counter() - t0
            setup_s = wl.setup(runner)
            runner.accounting = wl.accounting
            rotations = timed_loop(runner, wl.rotation, args.seconds, ctx.trace, wl.min_rotations)
            runner.accounting = None
            for op in wl.final_checks():
                runner.run(op, traced=False, timed=False)
            layers = wl.layers(runner) if ctx.trace else {}
            extra = wl.report(runner)
    finally:
        wl.close()
        shutil.rmtree(ctx.work_dir, ignore_errors=True)

    metrics, notes = end_to_end(runner, setup_s, rss.peak, traced=ctx.trace)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "box": box.facts,
        "local": f"local[{box.cores}]",
        "driver_mem_mb": box.driver_mem_mb,
        "shuffle_partitions": box.shuffle_partitions,
        "gen_s": gen_s,
        "rotations": rotations,
        **notes,
        "op_wall_ms": op_medians_ms(runner.timed(traced=ctx.trace)),
        **extra,
    }
    if runner.failures:
        report["failures"] = runner.failures
    if ctx.trace:
        # compare with a --trace 0 run of the same seed for the overhead
        report["traced_end_to_end"] = {k: v for k, (v, _) in metrics.items()}
        out = {name: 0.0 for name, _, _ in per_layer_metrics()}
        units = {name: unit for name, unit, _ in per_layer_metrics()}
        layers.update({f"{k}.wall_ms": v for k, v in report["op_wall_ms"].items()})
        layers["fail_share"] = notes["fail_share"]
        layers["gen_s"] = gen_s
        for k, v in layers.items():
            if k in out:
                out[k] = float(v)
        result_metrics = {k: {"value": v, "unit": units[k]} for k, v in out.items()}
        os.makedirs(ctx.results_dir, exist_ok=True)
        spans = os.path.join(ctx.results_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")
        ctx.tracer.dump(spans)
        report["spans_file"] = os.path.relpath(spans, ROOT)
        report["layers_not_in_metrics"] = {k: v for k, v in layers.items() if k not in out}
    else:
        result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print("perfbench report " + json.dumps(report, default=str))
    for f in runner.failures:
        print("perfbench FAILED " + f.replace("\n", " | "))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": result_metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
