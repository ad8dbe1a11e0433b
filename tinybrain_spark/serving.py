"""Resolution-routed reads of the retention pyramid (serving layer).

Mip levels exist to be READ at the right resolution (tinybrain's
downsample pyramid serves viewers the coarsest usable mip,
downsample.py:56-76's multi-mip contract); the retention-tier analog: a
query asks for (sources, time-bucket range, resolution = tokens pooled
per output point) and the planner serves it from the COARSEST
materialized tier whose factor divides the resolution, extending
in-flight for any residual factor.

Why this matters at 10^12-sequence scale: tier t holds window^t-times
fewer points than raw, so routing a low-resolution dashboard query to
tier 3 scans 64x (w=4) less data than pooling raw on the fly — and the
residual extension reuses the EXACT tier kernels (the persisted int64
accumulator for avg), so a served series is byte-identical to a pyramid
materialized at that depth.  Source/time predicates are applied to the
tier scan before any UDF, so partition pruning (source is the partition
key) and parquet row-group stats do the skipping.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rollup import TIER_KEY_COLS, RollupConfig, RollupEngine
from .udfs import avg_step, pool_tier


@dataclass(frozen=True)
class ServingPlan:
    """Which materialized tier to scan and how many in-flight pooling
    steps extend it to the requested resolution."""

    tier: int
    residual_steps: int


def plan_read(config: RollupConfig, resolution: int) -> ServingPlan:
    """Route a resolution (tokens per served point, must be a power of
    ``config.window``) to the coarsest materialized tier ≤ it."""
    w = config.window
    if resolution < 1:
        raise ValueError(f"resolution must be >= 1, got {resolution}")
    k, r = 0, resolution
    while r > 1:
        if r % w:
            raise ValueError(
                f"resolution {resolution} is not a power of window {w}"
            )
        r //= w
        k += 1
    tier = min(k, config.num_tiers)
    return ServingPlan(tier=tier, residual_steps=k - tier)


def read_series(
    engine: RollupEngine,
    config: RollupConfig,
    base_df: DataFrame | None,
    resolution: int,
    sources: list[str] | None = None,
    bucket_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Serve (doc_id, source, time_bucket, tokens, n_tok) at the given
    resolution from the coarsest usable materialized tier.

    ``base_df`` is the tier-0 table (the raw path; pass ``None`` when
    raw has itself been expired by retention).  Predicates are applied
    before the first UDF so they reach the scan; the residual extension
    chains the SAME tier steps ``run_tier`` uses (avg:
    persisted-accumulator step; mode/max/min/stride: rendered-value
    pooling), so the result is byte-identical to a deeper materialized
    pyramid.

    Tier fallback (r04, VERDICT #8): when the routed tier has been
    expired by retention (or never built), the planner walks DOWN to
    the next FINER materialized tier and extends in-flight over the
    larger residual — more scan, byte-identical answer (the residual
    steps are exactly the kernels that would have built the expired
    tier).  It raises only when nothing finer-or-equal exists either:
    every coarser-or-equal tier gone and no ``base_df``."""
    plan = plan_read(config, resolution)
    df, found_tier = None, None
    for t in range(plan.tier, -1, -1):
        if t == 0:
            if base_df is not None:
                df = base_df.select(*TIER_KEY_COLS, "tokens", "n_tok")
                found_tier = 0
            break
        if engine.catalog.exists(config.name(t)):
            df = engine.read_tier(config, t)
            found_tier = t
            break
    if df is None:
        raise FileNotFoundError(
            f"serving plan routed to tier {plan.tier} for resolution "
            f"{resolution}, but no tier <= {plan.tier} is materialized "
            f"(all expired by retention) and no base table was provided"
        )
    plan = ServingPlan(
        tier=found_tier,
        residual_steps=plan.residual_steps + (plan.tier - found_tier),
    )

    if sources is not None:
        df = df.where(F.col("source").isin(list(sources)))
    if bucket_range is not None:
        lo, hi = bucket_range
        df = df.where(F.col("time_bucket").between(lo, hi))

    for i in range(plan.residual_steps):
        step_tier = plan.tier + 1 + i
        if config.kernel == "avg":
            step = avg_step(
                window=config.window, sparse=config.sparse, tier=step_tier
            )
        else:
            step = pool_tier(
                config.kernel, window=config.window, sparse=config.sparse
            )
        df = step(df)

    return df.select(*TIER_KEY_COLS, "tokens", "n_tok")
