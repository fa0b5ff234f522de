"""Workload ``kernels``: the local sketch tier with no Spark at all.

Seeded streams shaped like transcript columns (heavy-tailed latency in µs,
lognormal text lengths, Pareto-reused ``conv_id`` strings) feed all seven
sketches.  One operation builds one sketch from one batch, serializes it,
deserializes it and merges it into that sketch type's accumulator.  Batches
come in two sizes: per-conversation segments of tens of values (per-call
overhead) and per-partition batches of 20,000 values (per-value cost).
Each rotation also queries every accumulator once and keys one large batch
with ``keymath.value_to_key``.

Set-up is the library import plus the first (cold) execution of every
operation of the first rotation, measured in three fresh interpreters; the
median is reported.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

from perfbench import stats
from perfbench.harness import Op, expect, span_layers
from perfbench.inputs import cached, conv_ids, latency_us, text_lengths

LARGE = 20_000
N_LARGE = 16
N_SMALL = 48
SMALL_PER_ROTATION = 3
SETUP_REPEATS = 3
SIGBITS = 5
#: sketch -> input stream
STREAMS = {
    "hg64": "latency",
    "kll": "textlen",
    "tdigest": "latency",
    "hll": "conv",
    "cms": "conv",
    "mg": "conv",
    "bloom": "conv",
}
PROBE = 16


def _factories():
    from hg64spark.hg64 import HG64
    from hg64spark.sketches import CMS, HLL, KLL, MG, Bloom, TDigest

    return {
        "hg64": (lambda: HG64(SIGBITS), HG64.deserialize),
        "kll": (lambda: KLL(200), KLL.deserialize),
        "tdigest": (TDigest, TDigest.deserialize),
        "hll": (HLL, HLL.deserialize),
        "cms": (CMS, CMS.deserialize),
        "mg": (MG, MG.deserialize),
        "bloom": (Bloom, Bloom.deserialize),
    }


def _query(kind: str, acc, probe: np.ndarray):
    if kind == "hg64":
        return acc.snapshot().value_at_quantile(np.array([0.5, 0.9, 0.99]))
    if kind in ("kll", "tdigest"):
        return acc.value_at_quantile(np.array([0.5, 0.9, 0.99]))
    if kind == "hll":
        return acc.estimate()
    if kind == "cms":
        return acc.estimate(probe)
    if kind == "mg":
        return acc.top(10)
    return acc.contains(probe)


def _load(cache_dir: str) -> dict[str, list[np.ndarray]]:
    data = np.load(os.path.join(cache_dir, "streams.npz"))
    out: dict[str, list[np.ndarray]] = {}
    for stream in ("latency", "textlen", "conv"):
        large = [data[f"{stream}_large_{i}"] for i in range(N_LARGE)]
        small = [data[f"{stream}_small_{i}"] for i in range(N_SMALL)]
        if stream == "conv":
            large = [a.astype(object) for a in large]
            small = [a.astype(object) for a in small]
        out[stream] = large + small
    return out


def _build(seed: int, out_dir: str) -> None:
    rng = np.random.default_rng([seed, 1])
    arrays = {}
    gens = {
        "latency": lambda n: latency_us(rng, n),
        "textlen": lambda n: text_lengths(rng, n),
        "conv": lambda n: conv_ids(rng, n, 20_000).astype("U13"),
    }
    for stream, gen in gens.items():
        for i in range(N_LARGE):
            arrays[f"{stream}_large_{i}"] = gen(LARGE)
        for i in range(N_SMALL):
            # the same sizes for every seed, 10..99 values
            arrays[f"{stream}_small_{i}"] = gen(10 + (i * 37) % 90)
    np.savez(os.path.join(out_dir, "streams.npz"), **arrays)


class Kernels:
    name = "kernels"
    accounting = None  # no Spark
    #: enough rotations that the tail percentile falls among the slowest
    #: operation's samples (t-digest on a large batch) in every run
    min_rotations = 16

    def __init__(self, ctx):
        self.ctx = ctx
        self.tracer = ctx.tracer

    def prepare(self) -> None:
        self.cache_dir = cached(
            self.ctx.cache_root, self.name, self.ctx.seed, (LARGE, N_LARGE, N_SMALL), lambda d: _build(self.ctx.seed, d)
        )
        self.data = _load(self.cache_dir)
        rng = np.random.default_rng([self.ctx.seed, 2])
        self.probe = self.data["conv"][0][rng.integers(0, LARGE, PROBE)]
        self.fed: dict[str, list[int]] = {k: [] for k in STREAMS}

    def setup(self, runner) -> float:
        """Median of fresh-interpreter set-ups (import + one cold execution
        of every operation of the first rotation)."""
        samples = []
        for _ in range(SETUP_REPEATS):
            out = subprocess.run(
                [sys.executable, "-m", "perfbench.wl_kernels", "--setup-child", str(self.ctx.seed)],
                cwd=self.ctx.root,
                capture_output=True,
                text=True,
                timeout=120,
                check=True,
            )
            samples.append(json.loads(out.stdout.strip().splitlines()[-1])["setup_s"])
        self.setup_samples = samples
        self.bind()
        return stats.median(samples)

    def bind(self) -> None:
        """Import the library and make one empty accumulator per sketch."""
        from hg64spark import keymath

        self.keymath = keymath
        self.factories = _factories()
        self.acc = {k: make() for k, (make, _) in self.factories.items()}

    def _op(self, kind: str, idx: int) -> Op:
        make, deser = self.factories[kind]
        batch = self.data[STREAMS[kind]][idx]
        tr = self.tracer
        acc = self.acc[kind]

        def run():
            sk = make()
            with tr.span(f"{kind}.update"):
                sk.add_values(batch)
            with tr.span(f"{kind}.serialize"):
                blob = sk.serialize()
            with tr.span(f"{kind}.deserialize"):
                back = deser(blob)
            with tr.span(f"{kind}.merge"):
                acc.merge(back)
            self.fed[kind].append(idx)
            return blob, back

        def check(res):
            blob, back = res
            expect(back.serialize() == blob, f"{kind}: serialize/deserialize round trip changed the bytes")

        return Op(f"{kind}.{'large' if idx < N_LARGE else 'small'}", run, check, len(batch))

    def _query_op(self, kind: str) -> Op:
        acc = self.acc[kind]

        def run():
            with self.tracer.span(f"{kind}.query"):
                return _query(kind, acc, self.probe)

        def check(res):
            if kind in ("hg64", "kll", "tdigest"):
                expect(bool(np.all(np.diff(np.asarray(res, dtype=np.float64)) >= 0)), f"{kind}: quantiles not monotone")
            elif kind == "hll":
                expect(res > 0, "hll: empty estimate after ingest")
            elif kind == "cms":
                expect(bool(np.all(np.asarray(res) >= 0)), "cms: negative estimate")
            elif kind == "mg":
                expect(len(res) > 0, "mg: no heavy hitters after ingest")
            else:
                expect(bool(np.all(res)), "bloom: false negative on an ingested key")

        return Op(f"{kind}.query", run, check, 0)

    def _keymath_op(self, idx: int) -> Op:
        batch = self.data["latency"][idx].astype(np.uint64)

        def run():
            with self.tracer.span("keymath.value_to_key"):
                return self.keymath.value_to_key(batch, SIGBITS)

        def check(keys):
            expect(keys.shape == batch.shape and int(keys.max()) < self.keymath.nkeys(SIGBITS), "keymath: key out of range")

        return Op("keymath.value_to_key", run, check, len(batch))

    def rotation(self, r: int) -> list[Op]:
        ops = []
        for kind in STREAMS:
            ops.append(self._op(kind, r % N_LARGE))
            for j in range(SMALL_PER_ROTATION):
                ops.append(self._op(kind, N_LARGE + (r * SMALL_PER_ROTATION + j) % N_SMALL))
            ops.append(self._query_op(kind))
        ops.append(self._keymath_op(r % N_LARGE))
        return ops

    def final_checks(self) -> list[Op]:
        """Merged accumulators against the values fed: byte-equal to one
        sketch built from every value fed, for the order-insensitive sketches (hg64, HLL, CMS,
        Bloom); equal population for KLL, t-digest and MG, whose merged
        bytes depend on merge order."""
        ops = []
        for kind in STREAMS:
            make, _ = self.factories[kind]
            stream = self.data[STREAMS[kind]]
            fed = list(self.fed[kind])
            exact = kind in ("hg64", "hll", "cms", "bloom")

            def run(make=make, stream=stream, fed=fed, exact=exact):
                n = sum(len(stream[i]) for i in fed)
                if not exact:
                    return None, n
                # one sketch fed every batch in turn: for these sketches the
                # same bytes as one add of all values, without a copy whose
                # size (and the peak memory) would grow with the run's length
                whole = make()
                for i in fed:
                    whole.add_values(stream[i])
                return whole, n

            def check(res, kind=kind):
                whole, n = res
                acc = self.acc[kind]
                if whole is not None:
                    expect(acc.serialize() == whole.serialize(), f"{kind}: merged bytes differ from single-shot build")
                else:
                    expect(int(acc.n) == n, f"{kind}: merged population {acc.n} != {n} values fed")

            ops.append(Op(f"{kind}.single_shot", run, check, 0))
        return ops

    def layers(self, runner) -> dict[str, float]:
        out = span_layers(runner)
        by_span: dict[str, list[tuple[float, int]]] = {}
        rows = {s.op_id: s.rows for s in runner.timed(traced=True)}
        for s in self.tracer.spans:
            if s["op"] in rows and s["end"] is not None:
                by_span.setdefault(s["name"], []).append((s["end"] - s["start"], rows[s["op"]]))
        for kind in STREAMS:
            large = [ns / n for ns, n in by_span.get(f"{kind}.update", []) if n >= LARGE]
            out[f"{kind}.update_ns_per_value"] = stats.median(large)
            for step in ("merge", "serialize", "deserialize", "query"):
                out[f"{kind}.{step}_us"] = stats.median([ns / 1e3 for ns, _ in by_span.get(f"{kind}.{step}", [])])
            out[f"{kind}.bytes"] = float(len(self.acc[kind].serialize()))
        keyed = [ns / n for ns, n in by_span.get("keymath.value_to_key", []) if n]
        out["keymath.value_to_key_ns_per_value"] = stats.median(keyed)
        return out

    def report(self, runner) -> dict:
        return {"setup_samples_s": self.setup_samples}

    def close(self) -> None:
        pass


def _setup_child(seed: int) -> None:
    """One set-up in a fresh interpreter: the library import plus one cold
    execution of every operation of the first rotation, checks included."""
    from perfbench.run import Context

    wl = Kernels(Context(os.getcwd(), seed, None, False, "kernels"))
    wl.prepare()
    t0 = time.perf_counter()
    wl.bind()
    for op in wl.rotation(0):
        op.check(op.run())
    print(json.dumps({"setup_s": time.perf_counter() - t0}))


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--setup-child":
        _setup_child(int(sys.argv[2]))
    else:
        raise SystemExit("usage: python -m perfbench.wl_kernels --setup-child <seed>")
