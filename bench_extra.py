"""Targeted per-query benchmark for the optimization rounds (guide §1.4).

NOT the graded bench — bench.py is frozen for measurement.  This tool
times any subset of registry queries with the noop sink, best-of-N,
optionally dumping .explain("formatted") to a directory, so individual
optimizations can be isolated without paying for the whole headline
loop.

Usage:
    python bench_extra.py q_dup_spans q_ngram_jaccard \
        [--sf /root/testdata/sf1.0] [--n 3] [--plans plans/r06/before]

Env: SPARK_GRAFT_CPUS (default: the cores this process may use, as
``session.DEFAULT_CPUS``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, _cpu_calib_kips, _fault_in_mbps  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: headline set)")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=3, help="repeats (best-of)")
    ap.add_argument("--plans", default=None,
                    help="directory to write <name>.txt explain output")
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--plans-only", action="store_true",
                    help="dump explain output, skip timing")
    args = ap.parse_args()

    names = args.names or HEADLINE

    from tinybrain_spark import driver_contract as dc
    from tinybrain_spark.session import DEFAULT_CPUS, get_spark

    pre_mbps = _fault_in_mbps()
    spark = get_spark("tinybrain-bench-extra")
    qs = dc.queries()
    if not args.no_warm:
        spark.sparkContext.setJobDescription("warmup")
        _force(qs["q_max_rollup_t1"](spark, args.sf))

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        if args.plans:
            df = qs[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        if args.plans_only:
            continue
        best, runs = float("inf"), []
        for _ in range(args.n):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            _force(qs[name](spark, args.sf))
            dt = time.time() - t0
            runs.append(round(dt, 3))
            best = min(best, dt)
        timings[name] = round(best, 3)
        samples[name] = runs
        print(f"  {name}: best {best:.3f}s  {runs}", file=sys.stderr)

    out = {
        "sf": args.sf,
        "cpus": DEFAULT_CPUS,
        "n": args.n,
        "total_best": round(sum(timings.values()), 3),
        "queries": timings,
        "samples": samples,
        "vm_fault_in_mbps_pre": pre_mbps,
        "vm_fault_in_mbps_post": _fault_in_mbps(),
        "vm_cpu_calib_kips": _cpu_calib_kips(),
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
