"""spark-submit entry point for the retention rollup pyramid.

Usage (north_rule: 'runs via spark-submit --py-files'):

    spark-submit --py-files tinybrain_spark.zip jobs/rollup_job.py \
        --input /path/to/sequences --output /path/to/warehouse \
        --kernel avg --window 4 --tiers 3 [--sparse] [--no-resume] \
        [--gen-docs N --gen-ntok M]     # synthesize input instead

Also runnable as plain `python jobs/rollup_job.py ...` in the sandbox
(the session factory creates the local master).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="parquet dir with the sequence table")
    p.add_argument("--output", required=True, help="engine warehouse dir")
    p.add_argument("--kernel", default="avg",
                   choices=["avg", "mode", "max", "min", "stride"])
    p.add_argument("--window", type=int, default=4, choices=[2, 4, 8])
    p.add_argument("--tiers", type=int, default=3)
    p.add_argument("--sparse", action="store_true")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--run-kind", default="job")
    p.add_argument("--master", default=None)
    p.add_argument("--repeat", type=int, default=1,
                   help="run the pyramid N times (fresh output each), "
                        "report the best — amortizes worker cold-start")
    p.add_argument("--gen-docs", type=int, default=0,
                   help="synthesize this many docs instead of --input")
    p.add_argument("--gen-ntok", type=int, default=256)
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args(argv)

    from tinybrain_spark.datagen import generate, with_time_bucket
    from tinybrain_spark.rollup import RollupConfig, RollupEngine
    from tinybrain_spark.session import get_spark

    spark = get_spark("tinybrain-rollup", master=args.master)
    try:
        if args.gen_docs:
            df = generate(spark, n_docs=args.gen_docs, n_tok=args.gen_ntok,
                          seed=args.seed)
        elif args.input:
            df = spark.read.parquet(args.input)
            if "time_bucket" not in df.columns:
                df = with_time_bucket(df)
        else:
            p.error("need --input or --gen-docs")

        cfg = RollupConfig(
            kernel=args.kernel,
            window=args.window,
            num_tiers=args.tiers,
            sparse=args.sparse,
            run_kind=args.run_kind,
        )
        best_wall, stats = None, None
        for rep in range(max(1, args.repeat)):
            out_dir = args.output if args.repeat == 1 else f"{args.output}_r{rep}"
            engine = RollupEngine(spark, out_dir)
            t0 = time.time()
            s = engine.run_pyramid(df, cfg, resume=not args.no_resume)
            wall_r = time.time() - t0
            if best_wall is None or wall_r < best_wall:
                best_wall, stats = wall_r, s
        wall = best_wall
        points = sum(s["points_out"] for s in stats.values())
        print(json.dumps({
            "kernel": args.kernel,
            "window": args.window,
            "tiers": args.tiers,
            "sparse": args.sparse,
            "points_out": points,
            "wall_sec": round(wall, 3),
            "points_per_sec": round(points / wall, 1) if wall else None,
            "per_tier": {str(k): v for k, v in stats.items()},
        }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
