"""tinybrain_spark benchmark: one closed-loop client in one driver
process at local[nproc], on inputs generated from --seed and written to
parquet during set-up.

    python3 perfbench/run.py --workload pyramid|registry \\
        --seed N --seconds S --trace 0|1

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with --trace 0 the
end-to-end metrics (metrics.END_TO_END), with --trace 1 the per-layer
metrics of a traced run (metrics.per_layer).  The line before it holds
the host record (core count, CPU calibration, load, fault-in probes),
the cycle walls and any failed check.  The traced run also writes its
spans to .perfbench_traces/.  --tiny shrinks the inputs for the smoke
test.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import uuid

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pyramid", "registry")


def _require_checkout() -> None:
    """Refuse to run without the program under test next to us."""
    for need in ("tinybrain_spark/__init__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found under {ROOT}")
    sys.path.insert(0, ROOT)


def _wrap_layers(tracer, workload_mod) -> None:
    """Spans around the public entry points of the traced modules."""
    from tinybrain_spark.catalog import Catalog
    from tinybrain_spark.checkpoint import CheckpointStore

    tracer.wrap(Catalog, "write", "catalog.write")
    tracer.wrap(Catalog, "read", "catalog.read")
    tracer.wrap(CheckpointStore, "record_tier", "checkpoint.record_tier")
    tracer.wrap(CheckpointStore, "completed_sources", "checkpoint.completed_sources")
    workload_mod.wrap(tracer)


def run(workload: str, seed: int, seconds: float, trace: bool,
        tiny: bool = False) -> dict:
    import harness
    import metrics as M
    from tracing import Tracer

    mod = importlib.import_module(workload)
    b = harness.Bench(seed, seconds, Tracer(trace, f"pb-{uuid.uuid4().hex[:8]}"),
                      tiny=tiny)
    if trace:
        _wrap_layers(b.tracer, mod)
    sampler = harness.RssSampler()
    with b.tracer.span("run"):
        with b.tracer.span("host"):
            host = harness.host_record()
        b.prepare_env()
        sampler.start()
        try:
            setup = {}
            for phase, fn in (("session_start", b.start_spark),
                              ("datagen", lambda: mod.datagen(b)),
                              ("warmup", lambda: mod.warmup(b))):
                t = time.perf_counter()
                with b.tracer.span(f"setup.{phase}"):
                    fn()
                setup[phase] = time.perf_counter() - t
            with b.tracer.span("measure"):
                mod.measure(b)
            with b.tracer.span("check"):
                mod.verify(b)
            layer = {}
            if trace:
                with b.tracer.span("profile"):
                    layer = _layers(b, mod, setup)
        finally:
            with b.tracer.span("teardown"):
                b.tracer.restore()
                b.stop_spark()
                peak_mb = sampler.stop()
                b.cleanup()
    wall = time.perf_counter() - T0
    host["wall_s"] = round(wall, 3)
    print(json.dumps({"host": host, "cycles_s": [round(c, 3) for c in b.cycles],
                      "peak_rss_mb": {k: round(v / 2**20) for k, v in sampler.parts.items()},
                      "checks_failed": b.checks.notes[:20]}))
    cycle_s = harness.median(b.cycles)
    if trace:
        top = [s for s in b.tracer.spans if s["parent"] == 0]
        layer["trace.coverage"] = sum(s["end"] - s["start"] for s in top) / wall
        layer["trace.cycle_s"] = cycle_s
        layer["failed_share"] = b.checks.failed_share
        layer["peak_rss_mb"] = peak_mb
        layer.update({f"memory.{k}_peak_mb": v / 2**20 for k, v in sampler.parts.items()})
        os.makedirs(harness.TRACE_DIR, exist_ok=True)
        b.tracer.write(
            os.path.join(harness.TRACE_DIR, f"{workload}-seed{seed}.json"), T0
        )
        names = M.per_layer()
        values = {n: float(layer.get(n, 0.0)) for n, _u, _b in names}
        units = {n: u for n, u, _b in names}
    else:
        values = {"setup_s": sum(setup.values()), "cycle_s": cycle_s}
        units = {n: u for n, u, _b, _bound in M.END_TO_END}
    return {
        "correct": b.checks.failed == 0,
        "attempted": b.checks.attempted,
        "failed": b.checks.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }


def _layers(b, mod, setup: dict) -> dict:
    from perlayer import common_layers
    from status import StatusStore, attribute

    jobs = attribute(b.tracer, StatusStore(b.spark))
    out = common_layers(b, jobs)
    out.update({f"setup.{k}_s": v for k, v in setup.items()})
    out.update(mod.layers(b, jobs))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test scale: a few thousand docs, sf0.001-sized tables")
    args = ap.parse_args(argv)
    _require_checkout()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 tiny=args.tiny)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
