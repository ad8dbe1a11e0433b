"""Time-series operators on `events`.

Gap-fill, as-of joins, running and rolling windows, counters,
histograms and quantiles, value drift and percentiles, heartbeat
liveness, peak concurrency and duration in state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..prefix import running_sums, running_sums_bucketed
from ..session import load_table
from .sequences import DAY_US, WEEK_S, _stitched_deltas


def q_gapfill_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..gapfill import gap_fill

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.col("event_type").alias("source"),
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        )
        .groupBy("source", "hb")
        .agg(F.count("*").alias("n_events"))
        .withColumn("time_bucket", (F.col("hb") / 3600).cast("long"))
        .drop("hb")
    )
    filled = gap_fill(
        hourly, ["source"], "time_bucket", ["n_events"], policy="zero"
    )
    return filled.select(
        "source",
        F.col("time_bucket").cast("long").alias("time_bucket"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill with last-observation-carried-forward (the 'previous'
    policy): missing hours inherit the prior bucket's count."""
    from ..gapfill import gap_fill

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.col("event_type").alias("source"),
            (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
            .cast("long")
            .alias("time_bucket"),
        )
        .groupBy("source", "time_bucket")
        .agg(F.count("*").alias("n_events"))
    )
    filled = gap_fill(
        hourly, ["source"], "time_bucket", ["n_events"], policy="previous"
    )
    # drop rows before a group's first observation: NULL vs NaN encoding
    # differs across engines and would poison the driver's value-hash
    return filled.where(F.col("n_events").isNotNull()).select(
        "source",
        F.col("time_bucket").cast("long").alias("time_bucket"),
        F.col("n_events").cast("long").alias("n_events"),
    )


_GAPFILL_LOCF = """
WITH hourly AS (
  SELECT event_type AS source,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS time_bucket,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(time_bucket) AS lo, max(time_bucket) AS hi FROM hourly
), spine AS (
  SELECT s.source, g.b AS time_bucket
  FROM (SELECT DISTINCT source FROM hourly) s
  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds) g
), joined AS (
  SELECT spine.source, spine.time_bucket, hourly.n_events
  FROM spine LEFT JOIN hourly
    ON spine.source = hourly.source AND spine.time_bucket = hourly.time_bucket
)
, locf AS (
  SELECT source,
         CAST(time_bucket AS BIGINT) AS time_bucket,
         CAST(last_value(n_events IGNORE NULLS) OVER (
           PARTITION BY source ORDER BY time_bucket
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_events
  FROM joined
)
SELECT * FROM locf WHERE n_events IS NOT NULL
"""

_GAPFILL = """
WITH hourly AS (
  SELECT event_type AS source,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS time_bucket,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(time_bucket) AS lo, max(time_bucket) AS hi FROM hourly
), spine AS (
  SELECT s.source, g.b AS time_bucket
  FROM (SELECT DISTINCT source FROM hourly) s
  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds) g
)
SELECT spine.source,
       CAST(spine.time_bucket AS BIGINT) AS time_bucket,
       CAST(coalesce(hourly.n_events, 0) AS BIGINT) AS n_events
FROM spine LEFT JOIN hourly
  ON spine.source = hourly.source AND spine.time_bucket = hourly.time_bucket
"""


def q_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill with LINEAR interpolation (timescale `interpolate`,
    r04): interior missing hours take the floor-interpolated value
    between the neighboring observations (pmod-exact integer floor, so
    decreasing series agree with the oracle's flooring //), leading
    gaps back-fill, trailing gaps carry forward.  The interpolation
    windows run over the SPINE (groups x buckets — tiny at any event
    volume), never over raw events."""
    from ..gapfill import gap_fill

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.col("event_type").alias("source"),
            (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
            .cast("long")
            .alias("time_bucket"),
        )
        .groupBy("source", "time_bucket")
        .agg(F.count("*").alias("n_events"))
    )
    filled = gap_fill(
        hourly, ["source"], "time_bucket", ["n_events"], policy="linear"
    )
    return filled.select(
        "source",
        F.col("time_bucket").cast("long").alias("time_bucket"),
        F.col("n_events").cast("long").alias("n_events"),
    )


_GAPFILL_LINEAR = """
WITH hourly AS (
  SELECT event_type AS source,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS time_bucket,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(time_bucket) AS lo, max(time_bucket) AS hi FROM hourly
), spine AS (
  SELECT s.source, g.b AS time_bucket
  FROM (SELECT DISTINCT source FROM hourly) s
  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds) g
), joined AS (
  SELECT spine.source, spine.time_bucket, hourly.n_events
  FROM spine LEFT JOIN hourly
    ON spine.source = hourly.source AND spine.time_bucket = hourly.time_bucket
), fill AS (
  SELECT source, time_bucket, n_events,
         last_value(n_events IGNORE NULLS) OVER wprev AS pv,
         first_value(n_events IGNORE NULLS) OVER wnext AS nv,
         last_value(CASE WHEN n_events IS NOT NULL THEN time_bucket END
                    IGNORE NULLS) OVER wprev AS pb,
         first_value(CASE WHEN n_events IS NOT NULL THEN time_bucket END
                     IGNORE NULLS) OVER wnext AS nb
  FROM joined
  WINDOW wprev AS (PARTITION BY source ORDER BY time_bucket
                   ROWS UNBOUNDED PRECEDING),
         wnext AS (PARTITION BY source ORDER BY time_bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT source,
       CAST(time_bucket AS BIGINT) AS time_bucket,
       CAST(CASE
              WHEN n_events IS NOT NULL THEN n_events
              WHEN pv IS NOT NULL AND nv IS NOT NULL
                -- FLOOR division (DuckDB's // truncates toward zero on
                -- negatives): subtract the nonneg mod first, like the
                -- Spark side's pmod formulation
                THEN pv + ((nv - pv) * (time_bucket - pb)
                           - (((nv - pv) * (time_bucket - pb)) % (nb - pb)
                              + (nb - pb)) % (nb - pb))
                         // (nb - pb)
              WHEN nv IS NOT NULL THEN nv
              ELSE pv
            END AS BIGINT) AS n_events
FROM fill
"""


def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running event count over hour buckets (window
    functions over the continuous-aggregate shape)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "user_id",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        )
        .groupBy("user_id", "hb")
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return hourly.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("hb").cast("long").alias("time_bucket"),
        F.sum("n").over(w).cast("long").alias("running_events"),
    )


_RUNNING_SUM = """
WITH hourly AS (
  SELECT user_id,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS time_bucket,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       time_bucket,
       CAST(sum(n) OVER (PARTITION BY user_id ORDER BY time_bucket
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_events
FROM hourly
"""


def q_global_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global cumulative sum over the WHOLE event stream in one total
    order — the direct driver-verification of prefix.running_sums'
    single-stream path (range partition + driver-side cumsum of
    per-partition totals).  The naive formulation is the canonical
    one-task window (``SUM OVER (ORDER BY ..)`` with no partition key);
    this plan contains no unpartitioned WindowExec at all (pinned in
    test_plans.py) and every sort is bounded by a range partition."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").alias("t"),
        F.col("event_id").cast("long").alias("event_id"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    rs = running_sums(ev, ["v"], ["t", "event_id"])
    return rs.select("event_id", F.col("rs_v").alias("running_v"))


_GLOBAL_RUNNING_SUM = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(sum(CAST(floor(value * 100) AS BIGINT))
              OVER (ORDER BY floor(epoch(ts)), event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_v
FROM events
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event picks up the most recent
    BUSY-hour state row (hourly count >= 3) for its event_type at or
    before its timestamp — a real as-of lookup that must carry state
    across quiet hours.  Verified against DuckDB's native ASOF JOIN."""
    from ..asof import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type").alias("event_type"),
        F.unix_timestamp("ts").alias("ts_s"),
    )
    hourly = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        )
        .groupBy("event_type", "hb")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 3)
    )
    joined = asof_join(
        ev, hourly, keys=["event_type"], left_time="ts_s",
        right_time="hb", value_cols=["hb", "n"],
    )
    return joined.where(F.col("hb").isNotNull()).select(
        "event_id",
        "event_type",
        F.col("hb").cast("long").alias("state_bucket"),
        F.col("n").cast("long").alias("state_events"),
    )


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over IRREGULAR samples (the timeseries-DB
    `time_weight` op): per (event_type, hour), each point holds its
    value until the next sample (LOCF integral), the last until the
    bucket edge; twa = integral / covered-time.  Exact integer
    arithmetic throughout (centi-scaled values, second weights,
    milli-scaled result), so the DuckDB oracle matches bit-for-bit.

    Scale shape: one lead() window per (event_type, hour) — the sort
    is bounded by a bucket's samples — feeding a groupBy that reuses
    the window's hash partitioning; one exchange total."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        F.unix_timestamp("ts").alias("t"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "hb").orderBy("t", "event_id")
    with_dt = ev.withColumn(
        "dt",
        F.coalesce(F.lead("t").over(w), F.col("hb") + 3600) - F.col("t"),
    )
    agg = with_dt.groupBy("event_type", "hb").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("dt")).cast("long").alias("wsum"),
        F.sum("dt").cast("long").alias("covered_s"),
    )
    return agg.select(
        "event_type",
        F.col("hb").cast("long").alias("hb"),
        "n",
        "wsum",
        "covered_s",
        F.expr("wsum * 1000 DIV covered_s").cast("long").alias("twa_milli"),
    )


_TIME_WEIGHTED_AVG = """
WITH ev AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(floor(value * 100) AS BIGINT) AS v,
         event_id
  FROM events
), d AS (
  SELECT event_type, hb, v,
         COALESCE(lead(t) OVER (PARTITION BY event_type, hb
                                ORDER BY t, event_id), hb + 3600) - t AS dt
  FROM ev
)
SELECT event_type, hb,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v * dt) AS BIGINT) AS wsum,
       CAST(sum(dt) AS BIGINT) AS covered_s,
       CAST(sum(v * dt) * 1000 // sum(dt) AS BIGINT) AS twa_milli
FROM d GROUP BY event_type, hb
"""


ROLLING_WINDOW_S = 24 * 3600  # sliding-window span (24 hours)


def q_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate over the hourly rollup: per event_type,
    the trailing-24h event count and value sum at every hour — the
    RANGE-frame window (time-based, not row-based: quiet hours shrink
    the frame) that powers rate-limit/trend dashboards.

    Scale shape: the hourly pre-aggregation shrinks events ~3000x
    before the window; the per-type ordered frame is bounded by hours
    of history per key (time-bounded by definition), and the window
    reuses the groupBy's hash partitioning — one exchange."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
            F.floor(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("event_type", "hb")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("v").cast("long").alias("vsum"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rangeBetween(-(ROLLING_WINDOW_S - 1), 0)
    )
    return hourly.select(
        "event_type",
        F.col("hb").cast("long").alias("hb"),
        "n",
        F.sum("n").over(w).cast("long").alias("n_24h"),
        F.sum("vsum").over(w).cast("long").alias("vsum_24h"),
        F.count("*").over(w).cast("long").alias("active_hours_24h"),
    )


_ROLLING_24H = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS vsum
  FROM events GROUP BY 1, 2
)
SELECT event_type, hb, n,
       CAST(sum(n) OVER w AS BIGINT) AS n_24h,
       CAST(sum(vsum) OVER w AS BIGINT) AS vsum_24h,
       CAST(count(*) OVER w AS BIGINT) AS active_hours_24h
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY hb
             RANGE BETWEEN {ROLLING_WINDOW_S - 1} PRECEDING
                   AND CURRENT ROW)
"""


def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-24h distinct users at every active hour — the
    sliding aggregate a RANGE frame cannot express (COUNT(DISTINCT) is
    not frame-mergeable; q_rolling_24h's sums are).

    Scale shape: dedup to (event_type, hour, user) FIRST (one exchange
    over a set orders of magnitude smaller than raw events), then each
    active pair fans out to the <= 24 window-end hours it influences —
    a BOUNDED explode (window/granularity ratio), never a range
    self-join over raw events — an inner join keeps only hours that
    actually exist, and a two-phase distinct count lands the answer.
    The 24x fan-out rides on the deduped pairs, so total shuffled rows
    stay ~24 * |active (type, hour, user)| regardless of event volume;
    HLL sketches (aggregates.update_continuous_distinct) are the
    approximate alternative when even that is too wide."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("b"),
        "user_id",
    )
    bu = ev.distinct()
    buckets = bu.select("event_type", F.col("b").alias("tb")).distinct()
    expanded = bu.select(
        "event_type",
        "user_id",
        F.explode(F.sequence(F.col("b"), F.col("b") + 23)).alias("tb"),
    )
    return (
        expanded.join(buckets, ["event_type", "tb"])
        .groupBy("event_type", "tb")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users_24h"))
        .select(
            "event_type",
            (F.col("tb") * 3600).cast("long").alias("hb"),
            "n_users_24h",
        )
    )


_ROLLING_DISTINCT = """
WITH bu AS (
  SELECT DISTINCT event_type,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS b,
         user_id
  FROM events
), bk AS (SELECT DISTINCT event_type, b FROM bu)
SELECT bk.event_type,
       CAST(bk.b * 3600 AS BIGINT) AS hb,
       CAST(count(DISTINCT bu.user_id) AS BIGINT) AS n_users_24h
FROM bk JOIN bu ON bu.event_type = bk.event_type
              AND bu.b BETWEEN bk.b - 23 AND bk.b
GROUP BY 1, 2
"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly series
    per event_type: trend = centered 25h moving average (RANGE frame on
    the hour index, so missing hours shrink the frame instead of
    misaligning a ROWS frame), seasonal = per hour-of-day mean of the
    detrended series, residual = x - trend - seasonal.  All arithmetic
    is integer with truncate-toward-zero division (Spark DIV == DuckDB
    // on negatives, CLAUDE.md) so the oracle matches bit-for-bit.

    Scale shape: everything runs over the HOURLY pre-aggregate (~3000x
    smaller than events); the trend window partitions by event_type
    over at most hours-of-history rows per key (87k rows per decade —
    bounded by the calendar, same envelope as q_counter_rate), and the
    24-row-per-type seasonal table broadcasts back into the join."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
            .cast("long")
            .alias("b"),
        )
        .groupBy("event_type", "b")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("b").rangeBetween(-12, 12)
    tr = (
        hourly.withColumn("_s", F.sum("n").over(w))
        .withColumn("_c", F.count("*").over(w))
        .withColumn("trend", F.expr("_s DIV _c"))
        .withColumn("d", F.col("n") - F.col("trend"))
        .withColumn("phase", F.col("b") % 24)
    )
    se = tr.groupBy("event_type", "phase").agg(
        F.sum("d").alias("_sd"), F.count("*").alias("_cd")
    ).withColumn("seasonal", F.expr("_sd DIV _cd"))
    return (
        tr.join(
            F.broadcast(se.select("event_type", "phase", "seasonal")),
            ["event_type", "phase"],
        )
        .select(
            "event_type",
            (F.col("b") * 3600).cast("long").alias("hb"),
            F.col("n"),
            F.col("trend").cast("long").alias("trend"),
            F.col("seasonal").cast("long").alias("seasonal"),
            (F.col("d") - F.col("seasonal")).cast("long").alias("resid"),
        )
    )


_SEASONAL_DECOMPOSE = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), tr AS (
  SELECT event_type, b, n,
         sum(n) OVER w // count(*) OVER w AS trend
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY b
               RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), se AS (
  SELECT event_type, b % 24 AS phase,
         sum(n - trend) // count(*) AS seasonal
  FROM tr GROUP BY 1, 2
)
SELECT tr.event_type,
       CAST(tr.b * 3600 AS BIGINT) AS hb,
       tr.n,
       CAST(tr.trend AS BIGINT) AS trend,
       CAST(se.seasonal AS BIGINT) AS seasonal,
       CAST(tr.n - tr.trend - se.seasonal AS BIGINT) AS resid
FROM tr JOIN se ON se.event_type = tr.event_type
               AND se.phase = tr.b % 24
"""


COUNTER_WRAP = 100000  # synthetic counter modulus (forces resets)


def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style counter `increase()` with reset handling: a
    monotone counter that occasionally resets contributes its raw value
    after a reset (the restart heuristic) and its delta otherwise;
    per-(type, hour) increase is the sum.  The fixture synthesizes the
    counter deterministically (running centi-value sum mod 10^5, so
    wraps ARE resets) — reset detection and the increase sum are the
    operator under test, bit-exact vs the oracle.

    Scale shape (restructured r04 per ADVICE): a per-type cumulative
    window would sort one event type's ENTIRE history in one task —
    with a handful of types that is the one-task funnel.  Instead the
    cumulative sums come from prefix.running_sums (range-partitioned,
    bounded sorts), and the lag() disappears entirely: for a running
    sum s_i, the previous row's wrapped counter is algebraically
    (s_i - v_i) % WRAP, and 'first row of its type' is exactly
    'running count == 1' — both map-side expressions over the same
    prefix pass (two sums ride one shuffle)."""
    # (fan-out helped the old range-sampling shape but is a net loss
    # under the bucketed prefix below — the projections pipeline into
    # the one (type, hb) exchange the query needs anyway)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        F.unix_timestamp("ts").alias("t"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        "event_id",
    ).withColumn("one", F.lit(1).cast("long"))
    # r06: hb is the hour bucket of the ordering timestamp, i.e. a
    # monotone bucket — the bucketed two-level prefix drops the
    # range-partition sampling pass and the checkpoint, and the final
    # (event_type, hb) groupBy reuses the within-bucket window's
    # exchange (2.38 s -> ~1.5 s at sf1.0)
    rs = running_sums_bucketed(
        ev, ["v", "one"], ["t", "event_id"], "hb",
        partition_cols=["event_type"],
    )
    c = F.col("rs_v") % COUNTER_WRAP
    prev = (F.col("rs_v") - F.col("v")) % COUNTER_WRAP
    inc = F.when(F.col("rs_one") == 1, F.lit(0)).otherwise(
        F.when(c >= prev, c - prev)
        .otherwise(c)  # reset: counter restarted below prev
    )
    return (
        rs.select("event_type", "hb", inc.alias("inc"))
        .groupBy("event_type", "hb")
        .agg(
            F.sum("inc").cast("long").alias("increase"),
            F.sum((F.col("inc") == 0).cast("long")).cast("long").alias(
                "n_flat"
            ),
        )
        .select(
            "event_type", F.col("hb").cast("long").alias("hb"),
            "increase", "n_flat",
        )
    )


_COUNTER_RATE = f"""
WITH ev AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(floor(value * 100) AS BIGINT) AS v,
         event_id
  FROM events
), cum AS (
  SELECT event_type, hb, t, event_id,
         SUM(v) OVER (PARTITION BY event_type ORDER BY t, event_id
                      ROWS UNBOUNDED PRECEDING) % {COUNTER_WRAP} AS c
  FROM ev
), c AS (
  SELECT event_type, hb, c,
         lag(c) OVER (PARTITION BY event_type ORDER BY t, event_id) AS prev
  FROM cum
), i AS (
  SELECT event_type, hb,
         CASE WHEN prev IS NULL THEN 0
              WHEN c >= prev THEN c - prev
              ELSE c END AS inc
  FROM c
)
SELECT event_type, hb,
       CAST(sum(inc) AS BIGINT) AS increase,
       CAST(sum(CASE WHEN inc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flat
FROM i GROUP BY event_type, hb
"""


HIST_BIN = 1000  # centi-value bin width (10.00 per bin)


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram aggregation: fixed-width value bins per event_type —
    the distribution primitive behind latency/size dashboards.  Pure
    integer binning (floor of centi-value over the bin width), one
    map-side-combinable groupBy, one exchange."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"CAST(floor(value * 100) AS BIGINT) DIV {HIST_BIN}").alias(
            "bin"
        ),
    )
    return ev.groupBy("event_type", "bin").agg(
        F.count("*").cast("long").alias("n")
    )


_VALUE_HISTOGRAM = f"""
SELECT event_type,
       CAST(CAST(floor(value * 100) AS BIGINT) // {HIST_BIN} AS BIGINT)
         AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type, bin
"""


_DRIFT_FP = 1 << 20  # fixed-point share scale (exact integer shares)
_DRIFT_ENC = 1 << 24  # worst-bin argmax encoding: gap*2^24 + (2^24-1-bin')
_DRIFT_BIN_OFF = 1 << 23  # bin -> nonneg shift for the encoding


def q_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal value-distribution drift per event type: split the
    corpus at the midpoint day and report the total-variation distance
    (in 2^20 fixed point + permille) between the early and late value
    histograms, plus the single most-divergent bin and its share gap —
    the did-this-metric's-distribution-shift monitor behind alerting
    and retraining triggers (PSI's job, but exact integers: TVD needs
    no logarithm, so both engines agree bit-for-bit).

    Scale shape: ONE corpus-sized map-side-combinable groupBy to
    (type, era, bin) counts; everything after runs on that
    |types|*|bins|*2 census — per-(type, era) totals broadcast back,
    shares in 2^20 fixed point (count < 2^43 runtime-guarded), the
    per-bin gap |s_early - s_late| summed in a second tiny groupBy,
    and the worst bin via the q_m4 argmax encoding gap*2^24 +
    (2^24-1-(bin+2^23)) (|bin| < 2^23 guarded) — never a window.  The
    midpoint day folds in as a broadcast 1-row aggregate.  A type
    entirely absent from one era reads as drift vs an all-zero share
    vector (TVD ~ 500 permille), deterministically on both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("source"),
        F.expr(f"unix_micros(cast(ts as timestamp)) DIV {DAY_US}").alias(
            "day"
        ),
        F.expr(f"CAST(floor(value * 100) AS BIGINT) DIV {HIST_BIN}").alias(
            "bin"
        ),
    )
    bounds = ev.agg(
        F.expr("(min(day) + max(day) + 1) DIV 2").alias("mid")
    )
    census = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "source",
            F.when(F.col("day") < F.col("mid"), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("era"),
            "bin",
        )
        .groupBy("source", "era", "bin")
        .agg(F.count("*").cast("long").alias("cnt"))
        # two consumers (totals + shares): materialize the tiny census
        # once so the corpus scan/shuffle never re-runs (the
        # q_ngram_jaccard checkpointed-stage pattern)
        .localCheckpoint()
    )
    tot = census.groupBy("source", "era").agg(
        F.sum("cnt").alias("tot")
    )
    cnt_ok = F.when(F.col("cnt") < (1 << 43), F.col("cnt")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q_value_drift: per-bin count >= 2^43 overflows the "
                      "2^20 fixed-point share: "),
                F.col("cnt").cast("string"),
            )
        ).cast("long")
    )
    bin_ok = F.when(
        F.abs(F.col("bin")) < _DRIFT_BIN_OFF, F.col("bin")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q_value_drift: |bin| >= 2^23 breaks the worst-bin "
                      "encoding: "),
                F.col("bin").cast("string"),
            )
        ).cast("long")
    )
    shares = (
        census.join(F.broadcast(tot), ["source", "era"])
        .select(
            "source",
            bin_ok.alias("bin"),
            "era",
            (cnt_ok * F.lit(_DRIFT_FP)).alias("sc"),
            "tot",
            "cnt",
        )
        .withColumn("share", F.expr("sc DIV tot"))
    )
    gaps = shares.groupBy("source", "bin").agg(
        F.abs(
            F.sum(F.when(F.col("era") == 0, F.col("share")).otherwise(0))
            - F.sum(F.when(F.col("era") == 1, F.col("share")).otherwise(0))
        ).alias("gap"),
        F.sum(F.when(F.col("era") == 0, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("era") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    enc = gaps.groupBy("source").agg(
        F.expr("sum(gap) DIV 2").cast("long").alias("tvd_fp"),
        F.max(
            F.col("gap") * F.lit(_DRIFT_ENC)
            + (F.lit(_DRIFT_ENC - 1) - (F.col("bin") + F.lit(_DRIFT_BIN_OFF)))
        ).alias("e"),
        F.sum("n_a").cast("long").alias("n_early"),
        F.sum("n_b").cast("long").alias("n_late"),
    )
    return enc.select(
        "source",
        "n_early",
        "n_late",
        "tvd_fp",
        F.expr(f"tvd_fp * 1000 DIV {_DRIFT_FP}").cast("long").alias(
            "drift_ppt"
        ),
        (
            F.lit(_DRIFT_ENC - 1)
            - F.pmod(F.col("e"), F.lit(_DRIFT_ENC))
            - F.lit(_DRIFT_BIN_OFF)
        )
        .cast("long")
        .alias("worst_bin"),
        F.expr(f"e DIV {_DRIFT_ENC}").cast("long").alias("worst_gap_fp"),
    )


def _value_drift_sql() -> str:
    return f"""
WITH ev AS (
  SELECT event_type AS source,
         epoch_us(ts) // {DAY_US} AS day,
         CAST(floor(value * 100) AS BIGINT) // {HIST_BIN} AS bin
  FROM events
), b AS (
  SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev
), census AS (
  SELECT source,
         CASE WHEN day < b.mid THEN 0 ELSE 1 END AS era,
         bin, CAST(count(*) AS BIGINT) AS cnt
  FROM ev, b GROUP BY 1, 2, 3
), tot AS (
  SELECT source, era, sum(cnt) AS tot FROM census GROUP BY 1, 2
), shares AS (
  SELECT census.source, census.bin, census.era, census.cnt,
         cnt * {_DRIFT_FP} // tot.tot AS share
  FROM census JOIN tot USING (source, era)
), gaps AS (
  SELECT source, bin,
         abs(sum(CASE WHEN era = 0 THEN share ELSE 0 END)
             - sum(CASE WHEN era = 1 THEN share ELSE 0 END)) AS gap,
         sum(CASE WHEN era = 0 THEN cnt ELSE 0 END) AS n_a,
         sum(CASE WHEN era = 1 THEN cnt ELSE 0 END) AS n_b
  FROM shares GROUP BY 1, 2
), enc AS (
  SELECT source,
         sum(gap) // 2 AS tvd_fp,
         max(gap * {_DRIFT_ENC}
             + ({_DRIFT_ENC - 1} - (bin + {_DRIFT_BIN_OFF}))) AS e,
         sum(n_a) AS n_early, sum(n_b) AS n_late
  FROM gaps GROUP BY source
)
SELECT source,
       CAST(n_early AS BIGINT) AS n_early,
       CAST(n_late AS BIGINT) AS n_late,
       CAST(tvd_fp AS BIGINT) AS tvd_fp,
       CAST(tvd_fp * 1000 // {_DRIFT_FP} AS BIGINT) AS drift_ppt,
       CAST({_DRIFT_ENC - 1} - (e % {_DRIFT_ENC}) - {_DRIFT_BIN_OFF}
            AS BIGINT) AS worst_bin,
       CAST(e // {_DRIFT_ENC} AS BIGINT) AS worst_gap_fp
FROM enc
"""


HQ_PPTS = (500, 900, 990)  # quantiles (permille) for histogram_quantile


def q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style histogram_quantile: estimate per-type quantiles
    FROM THE PRE-AGGREGATED fixed-width histogram (q_value_histogram's
    bins) by locating the bin where the cumulative count crosses
    rank = ceil(q * total) and linearly interpolating inside it —
    integer arithmetic throughout (est_scaled = lo*1000 +
    (bin_width*1000*(rank - cum_prev)) DIV bin_count, centi-value *
    1000).  This is the quantile shape that SCALES: the histogram is
    one map-side-combinable groupBy; the cumulative window runs over
    #bins rows per type, never over raw events (exact percentiles need
    a full per-group sort — q_value_percentiles covers that semantics
    at dashboard-sized groups)."""
    bins = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(
                f"CAST(floor(value * 100) AS BIGINT) DIV {HIST_BIN}"
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    cum = (
        bins.withColumn("cum", F.sum("n").over(wc).cast("long"))
        .withColumn("total", F.sum("n").over(wt).cast("long"))
        .withColumn(
            "q_ppt",
            F.explode(F.array(*[F.lit(q).cast("long") for q in HQ_PPTS])),
        )
        .withColumn("rank", F.expr("(q_ppt * total + 999) DIV 1000"))
        .where(
            (F.col("cum") >= F.col("rank"))
            & (F.col("cum") - F.col("n") < F.col("rank"))
        )
    )
    return cum.select(
        "event_type",
        "q_ppt",
        F.col("rank").cast("long").alias("rank"),
        (
            F.col("bin") * (HIST_BIN * 1000)
            + F.expr(
                f"((rank - (cum - n)) * {HIST_BIN * 1000}) DIV n"
            )
        ).cast("long").alias("est_scaled"),
    )


_HISTOGRAM_QUANTILE = f"""
WITH bins AS (
  SELECT event_type,
         CAST(CAST(floor(value * 100) AS BIGINT) // {HIST_BIN} AS BIGINT)
           AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, bin
), c AS (
  SELECT event_type, bin, n,
         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM bins
), q AS (
  SELECT c.*, CAST(qq.q_ppt AS BIGINT) AS q_ppt,
         CAST((qq.q_ppt * c.total + 999) // 1000 AS BIGINT) AS rank
  FROM c, (VALUES {", ".join(f"({q})" for q in HQ_PPTS)}) AS qq(q_ppt)
)
SELECT event_type, q_ppt, rank,
       CAST(bin * {HIST_BIN * 1000}
            + ((rank - (cum - n)) * {HIST_BIN * 1000}) // n
         AS BIGINT) AS est_scaled
FROM q WHERE cum >= rank AND cum - n < rank
"""


def _asof_state_inputs(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type").alias("event_type"),
        F.unix_timestamp("ts").alias("ts_s"),
    )
    hourly = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        )
        .groupBy("event_type", "hb")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 3)
    )
    return ev, hourly


def q_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event picks up the EARLIEST busy-hour
    state row at or after its timestamp (the 'next scheduled state'
    lookup).  Same one-shuffle sort-merge shape as backward — right
    rows sort just after left rows at equal times, running first()
    over the following frame.  Verified against DuckDB's native
    forward ASOF JOIN (l.ts <= r.hb)."""
    from ..asof import asof_join

    ev, hourly = _asof_state_inputs(spark, sf_dir)
    joined = asof_join(
        ev, hourly, keys=["event_type"], left_time="ts_s",
        right_time="hb", value_cols=["hb", "n"], direction="forward",
    )
    return joined.where(F.col("hb").isNotNull()).select(
        "event_id",
        "event_type",
        F.col("hb").cast("long").alias("next_bucket"),
        F.col("n").cast("long").alias("next_events"),
    )


_ASOF_FWD = """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         count(*) AS n
  FROM events GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT CAST(l.event_id AS BIGINT) AS event_id,
       l.event_type,
       CAST(r.hb AS BIGINT) AS next_bucket,
       CAST(r.n AS BIGINT) AS next_events
FROM events l ASOF JOIN hourly r
  ON l.event_type = r.event_type
 AND CAST(floor(epoch(l.ts)) AS BIGINT) <= r.hb
"""


ASOF_TOLERANCE_S = 7200  # 2 hours


def q_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a tolerance horizon: the matched state
    row must be within 2 hours, else the event is dropped (pandas
    merge_asof tolerance semantics) — stale state is worse than no
    state.  Tolerance is a post-match filter on the matched timestamp,
    so the plan is unchanged: one shuffle, one sort, no range join."""
    from ..asof import asof_join

    ev, hourly = _asof_state_inputs(spark, sf_dir)
    joined = asof_join(
        ev, hourly, keys=["event_type"], left_time="ts_s",
        right_time="hb", value_cols=["hb", "n"],
        tolerance=ASOF_TOLERANCE_S,
    )
    return joined.where(F.col("hb").isNotNull()).select(
        "event_id",
        "event_type",
        F.col("hb").cast("long").alias("state_bucket"),
        F.col("n").cast("long").alias("state_events"),
    )


_ASOF_TOL = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         count(*) AS n
  FROM events GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT CAST(l.event_id AS BIGINT) AS event_id,
       l.event_type,
       CAST(r.hb AS BIGINT) AS state_bucket,
       CAST(r.n AS BIGINT) AS state_events
FROM events l ASOF JOIN hourly r
  ON l.event_type = r.event_type
 AND CAST(floor(epoch(l.ts)) AS BIGINT) >= r.hb
WHERE CAST(floor(epoch(l.ts)) AS BIGINT) - r.hb <= {ASOF_TOLERANCE_S}
"""


_ASOF_JOIN = """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         count(*) AS n
  FROM events GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT CAST(l.event_id AS BIGINT) AS event_id,
       l.event_type,
       CAST(r.hb AS BIGINT) AS state_bucket,
       CAST(r.n AS BIGINT) AS state_events
FROM events l ASOF JOIN hourly r
  ON l.event_type = r.event_type
  AND CAST(floor(epoch(l.ts)) AS BIGINT) >= r.hb
"""


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof``
    ``direction="nearest"``): each event matches whichever busy-hour
    state row is CLOSER in time — before or after — with exact ties
    going backward.  One exchange on the key, two incremental window
    passes (asc + desc running ``last``, never the O(n^2)
    UnboundedFollowing frame), per-row pick by |gap| — see
    ``asof._asof_nearest``.  DuckDB verifies with two native ASOF
    LEFT JOINs (>= and <=) and the same tie rule."""
    from ..asof import asof_join

    ev, hourly = _asof_state_inputs(spark, sf_dir)
    joined = asof_join(
        ev, hourly, keys=["event_type"], left_time="ts_s",
        right_time="hb", value_cols=["hb", "n"], direction="nearest",
    )
    return joined.where(F.col("hb").isNotNull()).select(
        "event_id",
        "event_type",
        F.col("hb").cast("long").alias("near_bucket"),
        F.col("n").cast("long").alias("near_events"),
    )


_ASOF_NEAREST = """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         count(*) AS n
  FROM events GROUP BY 1, 2 HAVING count(*) >= 3
), b AS (
  SELECT l.event_id, l.event_type,
         CAST(floor(epoch(l.ts)) AS BIGINT) AS t, r.hb, r.n
  FROM events l ASOF LEFT JOIN hourly r
    ON l.event_type = r.event_type
   AND CAST(floor(epoch(l.ts)) AS BIGINT) >= r.hb
), f AS (
  SELECT l.event_id, r.hb, r.n
  FROM events l ASOF LEFT JOIN hourly r
    ON l.event_type = r.event_type
   AND CAST(floor(epoch(l.ts)) AS BIGINT) <= r.hb
), picked AS (
  SELECT b.event_id, b.event_type,
         CASE WHEN b.hb IS NOT NULL
                   AND (f.hb IS NULL OR (b.t - b.hb) <= (f.hb - b.t))
              THEN b.hb ELSE f.hb END AS near_bucket,
         CASE WHEN b.hb IS NOT NULL
                   AND (f.hb IS NULL OR (b.t - b.hb) <= (f.hb - b.t))
              THEN b.n ELSE f.n END AS near_events
  FROM b JOIN f ON b.event_id = f.event_id
)
SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
       CAST(near_bucket AS BIGINT) AS near_bucket,
       CAST(near_events AS BIGINT) AS near_events
FROM picked WHERE near_bucket IS NOT NULL
"""


def q_asof_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated as-of join (timescale ``interpolate`` applied at
    JOIN time / kdb ``aj`` + linear): each event reads the busy-hour
    state series at its OWN timestamp by linearly interpolating
    between the surrounding state rows — backward neighbor carries
    alone before/after the series (LOCF/NOCB at the edges), exact
    at-or-equal hits return the row itself.  Fixed-point milli values
    with the pmod floor form (same convention as q_gapfill_linear), so
    the DuckDB oracle — two native ASOF LEFT JOINs + the same integer
    formula — matches bit-for-bit.

    Scale shape: ``asof.asof_both`` — one union, ONE exchange on the
    key, two incremental running-``last`` window passes (asc + desc;
    never the O(n^2) UnboundedFollowing frame), then pure projection
    arithmetic.  Same cost envelope as a single sort-merge join at any
    key skew the as-of family already survives."""
    from ..asof import asof_both

    ev, hourly = _asof_state_inputs(spark, sf_dir)
    both = asof_both(
        ev, hourly, keys=["event_type"], left_time="ts_s",
        right_time="hb", value_cols=["n"],
    )
    bt, ft = F.col("_b_vt"), F.col("_f_vt")
    bv = F.col("_b_v_n").cast("long")
    fv = F.col("_f_v_n").cast("long")
    # floor((fv-bv)*(t-bt)*1000 / (ft-bt)) via the nonneg-pmod
    # subtraction + integer DIV (both engines truncate toward zero;
    # subtracting pmod first makes that a true floor — exact at any
    # magnitude, unlike `/`'s double path past 2^53)
    staged = both.select(
        "event_id",
        "event_type",
        bt.alias("bt"),
        ft.alias("ft"),
        bv.alias("bv"),
        fv.alias("fv"),
        ((fv - bv) * (F.col("_t") - bt) * F.lit(1000)).alias("num"),
        (ft - bt).alias("den"),
    )
    interp = (
        F.when(F.col("bt").isNull() & F.col("ft").isNull(),
               F.lit(None).cast("long"))
        .when(F.col("bt").isNull(), F.col("fv") * 1000)
        .when(F.col("ft").isNull() | (F.col("ft") == F.col("bt")),
              F.col("bv") * 1000)
        .otherwise(
            F.col("bv") * 1000
            + F.expr("(num - pmod(num, den)) DIV den")
        )
        .cast("long")
    )
    return (
        staged.select(
            "event_id",
            "event_type",
            interp.alias("v_interp_milli"),
        )
        .where(F.col("v_interp_milli").isNotNull())
    )


_ASOF_INTERP = """
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2 HAVING count(*) >= 3
), b AS (
  SELECT l.event_id, l.event_type,
         CAST(floor(epoch(l.ts)) AS BIGINT) AS t, r.hb AS bt, r.n AS bv
  FROM events l ASOF LEFT JOIN hourly r
    ON l.event_type = r.event_type
   AND CAST(floor(epoch(l.ts)) AS BIGINT) >= r.hb
), f AS (
  SELECT l.event_id, r.hb AS ft, r.n AS fv
  FROM events l ASOF LEFT JOIN hourly r
    ON l.event_type = r.event_type
   AND CAST(floor(epoch(l.ts)) AS BIGINT) <= r.hb
), j AS (
  SELECT b.event_id, b.event_type, b.t, b.bt, b.bv, f.ft, f.fv
  FROM b JOIN f ON b.event_id = f.event_id
)
SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
       CAST(CASE
              WHEN bt IS NULL THEN fv * 1000
              WHEN ft IS NULL OR ft = bt THEN bv * 1000
              ELSE bv * 1000
                   + ((fv - bv) * (t - bt) * 1000
                      - (((fv - bv) * (t - bt) * 1000) % (ft - bt)
                         + (ft - bt)) % (ft - bt))
                     // (ft - bt)
            END AS BIGINT) AS v_interp_milli
FROM j WHERE bt IS NOT NULL OR ft IS NOT NULL
"""


def q_wow_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week deltas: each (event_type, hour) bucket against
    the same hour one week earlier — the seasonal-baseline comparison
    behind anomaly dashboards.  Computed as a self equi-join of the
    hourly pre-aggregate on (type, hb - 1 week): both sides are the
    ~3000x-reduced rollup, so the join shuffles aggregated rows only
    (and at any scale stays a few MB per type-week — broadcastable by
    AQE if one side is small).  LEFT join keeps weeks with no
    predecessor (delta NULL -> dropped here to keep the contract
    NULL-free; the first week of history has no baseline)."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .alias("hb"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("vsum"),
        )
    )
    prev = hourly.select(
        "event_type",
        (F.col("hb") + WEEK_S).alias("hb"),
        F.col("n").alias("n_prev"),
        F.col("vsum").alias("vsum_prev"),
    )
    return (
        hourly.join(prev, ["event_type", "hb"])
        .select(
            "event_type",
            F.col("hb").cast("long").alias("hb"),
            "n",
            (F.col("n") - F.col("n_prev")).cast("long").alias("n_delta"),
            (F.col("vsum") - F.col("vsum_prev")).cast("long")
            .alias("vsum_delta"),
        )
    )


_WOW_DELTA = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS vsum
  FROM events GROUP BY 1, 2
)
SELECT c.event_type, c.hb, c.n,
       CAST(c.n - p.n AS BIGINT) AS n_delta,
       CAST(c.vsum - p.vsum AS BIGINT) AS vsum_delta
FROM hourly c JOIN hourly p
  ON c.event_type = p.event_type AND c.hb = p.hb + {WEEK_S}
"""


def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time statistics per event type (microsecond
    deltas between consecutive events) — the ingest-cadence profile
    behind capacity planning and outage detection.  A naive
    formulation is ONE lag() window partitioned by type: with a
    handful of types that is the forbidden one-task sort of a type's
    entire history.  This plan bounds every sort by a day:

    1. lag() within (type, day) partitions — each task sorts one
       day's events;
    2. each day's LAST (us, event_id) reduces out via max_by (one
       map-side-combinable groupBy to a types*days table);
    3. lag() over that TINY table (partitioned by type, ordered by
       day — bounded by days-of-history) gives every day's
       predecessor-day last timestamp, which joins back broadcast to
       fill each day's first delta.

    The stitched deltas are exactly the full-sort lag deltas (ties
    broken by event_id in both layers), which is what the DuckDB
    oracle computes directly.  Output: per type, delta count,
    min/max, and the floored mean in int64 microseconds."""
    return _stitched_deltas(spark, sf_dir).groupBy("source").agg(
        F.count("*").cast("long").alias("n_deltas"),
        F.min("delta").cast("long").alias("min_delta_us"),
        F.max("delta").cast("long").alias("max_delta_us"),
        F.expr("sum(delta) DIV count(*)").cast("long").alias("avg_delta_us"),
    )


_INTERARRIVAL = """
WITH e AS (
  SELECT event_type AS source, epoch_us(ts) AS us, event_id FROM events
), d AS (
  SELECT source,
         us - lag(us) OVER (
           PARTITION BY source ORDER BY us, event_id) AS delta
  FROM e
)
SELECT source,
       CAST(count(delta) AS BIGINT) AS n_deltas,
       CAST(min(delta) AS BIGINT) AS min_delta_us,
       CAST(max(delta) AS BIGINT) AS max_delta_us,
       CAST(sum(delta) // count(delta) AS BIGINT) AS avg_delta_us
FROM d WHERE delta IS NOT NULL
GROUP BY source
"""


LOGQ_QUANTILES = (500, 900, 990)  # q50 / q90 / q99 in permille


def q_logbucket_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-bucketed quantile sketch (the DDSketch idea with integer
    machinery): each centi-value lands in bucket (msb, next-2-bits) —
    msb = floor(log2 v) computed EXACTLY as length(bin(v))-1 on both
    engines, no float log — giving ~25% relative-error buckets whose
    counts are sum-MERGEABLE across partitions/days/streams (unlike
    exact percentiles) and whose count is bounded (<= 4*63 buckets)
    however unbounded the value domain — the quantile shape that
    rolls up.  Estimates are each bucket's exact integer lower bound
    at rank ceil(q*n/1000).

    Shape: one map-side-combinable groupBy to <= 252 rows per type, a
    cumulative window over those aggregated rows, a 3-way quantile
    expand, one final min — every post-scan row is a bucket.
    q_value_histogram covers fixed-width bins; q_value_percentiles
    exact order statistics; this adds the mergeable relative-error
    tier."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("source"),
        (F.floor(F.col("value") * 100).cast("long") + 1).alias("v"),
    )
    guarded = ev.select(
        "source",
        F.when(F.col("v") >= 1, F.col("v"))
        .otherwise(
            F.raise_error(
                F.lit("q_logbucket_quantile: negative centi-value — "
                      "the log-bucket domain is v >= 1")
            ).cast("long")
        )
        .alias("v"),
    )
    msb = F.length(F.bin(F.col("v"))) - 1
    sub = F.when(
        msb >= 2, F.expr("v >> (length(bin(v)) - 3)") - 4
    ).otherwise(F.col("v") - F.expr("1 << (length(bin(v)) - 1)"))
    buckets = (
        guarded.select(
            "source", (msb * 4 + sub).cast("long").alias("bucket")
        )
        .groupBy("source", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cum = buckets.select(
        "source",
        "bucket",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("total"),
    )
    qs = cum.select(
        "source",
        "bucket",
        "cum",
        F.explode(
            F.array(*[F.lit(q) for q in LOGQ_QUANTILES])
        ).alias("q"),
        "total",
    ).where(
        F.col("cum") >= F.expr("(q * total + 999) DIV 1000")
    )
    best = qs.groupBy("source", "q").agg(
        F.min("bucket").alias("bucket")
    )
    m = F.expr("bucket DIV 4")
    s = F.expr("bucket % 4")
    lb = F.when(
        m >= 2, (s + 4) * F.expr("1 << (bucket DIV 4 - 2)")
    ).otherwise(F.expr("(1 << (bucket DIV 4)) + bucket % 4"))
    return best.select(
        "source",
        F.col("q").cast("long").alias("q"),
        lb.cast("long").alias("est_centi"),
    )


_LOGBUCKET_QUANTILE = f"""
WITH v AS (
  SELECT event_type AS source,
         CAST(floor(value * 100) AS BIGINT) + 1 AS v
  FROM events
), b AS (
  SELECT source,
         (length(bin(v)) - 1) * 4
         + CASE WHEN length(bin(v)) - 1 >= 2
                THEN (v >> (length(bin(v)) - 3)) - 4
                ELSE v - (1 << (length(bin(v)) - 1)) END AS bucket,
         count(*) AS n
  FROM v GROUP BY 1, 2
), c AS (
  SELECT source, bucket,
         sum(n) OVER (PARTITION BY source ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER (PARTITION BY source) AS total
  FROM b
), hit AS (
  SELECT source, q.q, min(bucket) AS bucket
  FROM c CROSS JOIN (VALUES {", ".join(f"({q})" for q in LOGQ_QUANTILES)})
         AS q(q)
  WHERE cum >= (q.q * total + 999) // 1000
  GROUP BY 1, 2
)
SELECT source, CAST(q AS BIGINT) AS q,
       CAST(CASE WHEN bucket // 4 >= 2
                 THEN (bucket % 4 + 4) * (1 << (bucket // 4 - 2))
                 ELSE (1 << (bucket // 4)) + bucket % 4 END AS BIGINT)
         AS est_centi
FROM hit
"""


TOPN_PER_TYPE = 3


def q_topn_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group: the 3 busiest hours of each event type
    (deterministic tie-break: earlier hour wins).  The rank window
    partitions by the REAL group key over PRE-AGGREGATED hourly rows —
    bounded by hours-per-type after the map-side-combinable groupBy,
    never by raw event volume — so this is the scale-correct shape for
    per-group top-N (contrast q_topk_users' global
    TakeOrderedAndProject)."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .alias("hb"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("hb").asc()
    )
    return (
        hourly.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOPN_PER_TYPE)
        .select(
            "event_type", F.col("hb").cast("long").alias("hb"),
            "n", "rank",
        )
    )


_TOPN_HOURS = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, hb, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY n DESC, hb ASC)
              AS BIGINT) AS rank
  FROM hourly
)
SELECT event_type, hb, n, rank
FROM ranked WHERE rank <= {TOPN_PER_TYPE}
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles of the integer value distribution per
    event_type.  Quartiles of integers interpolate at dyadic fractions
    (g in {0, .25, .5, .75}), so both engines compute bit-exact doubles
    and x*4 is an integer — hash-stable without approximation."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).alias("v")
    )
    pct = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("percentile(v, array(0.25, 0.5, 0.75))").alias("p"),
    )
    return pct.select(
        "event_type",
        "n",
        (F.element_at("p", 1) * 4).cast("long").alias("p25_x4"),
        (F.element_at("p", 2) * 4).cast("long").alias("p50_x4"),
        (F.element_at("p", 3) * 4).cast("long").alias("p75_x4"),
    )


_VALUE_PERCENTILES = """
WITH t AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(quantile_cont(v, 0.25) * 4 AS BIGINT) AS p25_x4,
       CAST(quantile_cont(v, 0.5) * 4 AS BIGINT) AS p50_x4,
       CAST(quantile_cont(v, 0.75) * 4 AS BIGINT) AS p75_x4
FROM t GROUP BY event_type
"""


WINSOR_LO_PCT = 5  # clip below the 5th percentile...
WINSOR_HI_PCT = 95  # ...and above the 95th
WINSOR_MAX_CENTS = 1 << 20  # census stays domain-bounded past this


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics: exact type-1 (lower-rank)
    p05/p95 cent values from the cumulative value census, then the
    clipped sum and clip counts — the robust-mean preprocessing step,
    EXACT without any global sort.

    Scale shape: ONE corpus-sized map-side-combinable census groupBy
    (event_type, cents); everything after — cumulative window, rank
    thresholds ceil(p*n/100) via (p*n + 99) DIV 100, the clip pass
    (winsorized sum = sum(cnt * clamp(v))) — runs on the census,
    whose size is bounded by the VALUE DOMAIN (< 2^20 cents,
    runtime-guarded with an actionable raise), never by the corpus.
    The clip pass never rescans raw events."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    census = ev.groupBy("event_type", "v").agg(
        F.count("*").cast("long").alias("cnt")
    )
    guarded_v = F.when(
        (F.col("v") >= 0) & (F.col("v") < WINSOR_MAX_CENTS), F.col("v")
    ).otherwise(
        F.raise_error(
            F.lit(
                "q_winsorized_stats: cent value outside [0, 2^20) — "
                "the census is no longer domain-bounded; widen "
                "WINSOR_MAX_CENTS or bucket first"
            )
        ).cast("long")
    )
    census = census.select("event_type", guarded_v.alias("v"), "cnt")
    wc = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("event_type")
    c = census.select(
        "event_type",
        "v",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    # the winsor bounds ride two more windows over the SAME census
    # partitioning (never a join back — a census-vs-bounds join would
    # recompute the census groupBy and rescan events; single-scan
    # lineage is pinned in test_r06i_ops)
    j = c.select(
        "event_type",
        "v",
        "cnt",
        "n",
        F.min(
            F.when(
                F.expr(f"cum >= ({WINSOR_LO_PCT} * n + 99) DIV 100"),
                F.col("v"),
            )
        ).over(wt).alias("lo_c"),
        F.min(
            F.when(
                F.expr(f"cum >= ({WINSOR_HI_PCT} * n + 99) DIV 100"),
                F.col("v"),
            )
        ).over(wt).alias("hi_c"),
    )
    return j.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("lo_c").cast("long").alias("lo_c"),
        F.max("hi_c").cast("long").alias("hi_c"),
        F.sum(
            F.expr("cnt * greatest(lo_c, least(hi_c, v))")
        ).cast("long").alias("wsum_c"),
        F.sum(F.when(F.col("v") < F.col("lo_c"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_clip_lo"),
        F.sum(F.when(F.col("v") > F.col("hi_c"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_clip_hi"),
    )


_WINSORIZED_STATS = f"""
WITH census AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), c AS (
  SELECT event_type, v, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM census
), bounds AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         CAST(min(CASE WHEN cum >= ({WINSOR_LO_PCT} * n + 99) // 100
                       THEN v END) AS BIGINT) AS lo_c,
         CAST(min(CASE WHEN cum >= ({WINSOR_HI_PCT} * n + 99) // 100
                       THEN v END) AS BIGINT) AS hi_c
  FROM c GROUP BY 1
)
SELECT census.event_type, n, lo_c, hi_c,
       CAST(sum(cnt * greatest(lo_c, least(hi_c, v))) AS BIGINT)
         AS wsum_c,
       CAST(sum(CASE WHEN v < lo_c THEN cnt ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(sum(CASE WHEN v > hi_c THEN cnt ELSE 0 END) AS BIGINT)
         AS n_clip_hi
FROM census JOIN bounds ON census.event_type = bounds.event_type
GROUP BY 1, 2, 3, 4
"""


STATE_SPAN_MAX_DAYS = 64  # one state interval may cross at most this


def q_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-in-state rollup (the state_agg/uptime hyperfunction):
    each user's event stream is a state machine — an event puts the
    user in state event_type until their next event — and the operator
    reports, per (state, day), how many intervals touched the day and
    the total microseconds spent in it (intervals clip exactly at
    midnight, so a 3-day idle in 'view' lands on three days).

    Scale shape: ONE lead() window per user (the engine's documented
    per-user history bound, as in q_sessionize); the midnight split is
    an in-row sequence-explode bounded by a LOUD guard (an interval
    crossing > STATE_SPAN_MAX_DAYS days raises rather than fanning
    out unboundedly); one map-side-combinable groupBy(state, day)
    folds the pieces.  All integer microseconds; the per-group sum
    stays < 2^63 up to ~10^5 user-years per (state, day) cell —
    beyond that emit seconds (documented budget, as q_late_arrival)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("event_type").alias("state"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    iv = ev.withColumn("nxt", F.lead("us").over(w)).where(
        F.col("nxt").isNotNull() & (F.col("nxt") > F.col("us"))
    )
    d0 = F.expr(f"us DIV {DAY_US}")
    d1 = F.expr(f"(nxt - 1) DIV {DAY_US}")
    iv = iv.withColumn("d0", d0).withColumn("d1", d1).select(
        "state",
        "us",
        "nxt",
        "d0",
        F.when(
            F.col("d1") - F.col("d0") <= STATE_SPAN_MAX_DAYS, F.col("d1")
        ).otherwise(
            F.raise_error(
                F.lit(
                    "q_state_durations: a state interval crosses more "
                    f"than {STATE_SPAN_MAX_DAYS} days — split upstream"
                )
            ).cast("long")
        ).alias("d1"),
    )
    pieces = iv.select(
        "state",
        "us",
        "nxt",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    ).select(
        "state",
        "day",
        (
            F.least(F.col("nxt"), (F.col("day") + 1) * DAY_US)
            - F.greatest(F.col("us"), F.col("day") * DAY_US)
        ).alias("span_us"),
    )
    return pieces.groupBy("state", "day").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum("span_us").cast("long").alias("total_us"),
    )


_STATE_DURATIONS = f"""
WITH ev AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         CAST(event_id AS BIGINT) AS event_id,
         epoch_us(ts) AS us,
         event_type AS state
  FROM events
), iv AS (
  SELECT state, us,
         lead(us) OVER (PARTITION BY user_id
                        ORDER BY us, event_id) AS nxt
  FROM ev
), bounded AS (
  SELECT state, us, nxt,
         us // {DAY_US} AS d0, (nxt - 1) // {DAY_US} AS d1
  FROM iv WHERE nxt IS NOT NULL AND nxt > us
), pieces AS (
  SELECT state, day,
         least(nxt, (day + 1) * {DAY_US})
           - greatest(us, day * {DAY_US}) AS span_us
  FROM bounded
  CROSS JOIN (SELECT unnest(generate_series(0,
      (SELECT coalesce(max(d1 - d0), 0) FROM bounded))) AS k) g
  CROSS JOIN LATERAL (SELECT d0 + k AS day) dd
  WHERE d0 + k <= d1
)
SELECT state, CAST(day AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(span_us) AS BIGINT) AS total_us
FROM pieces GROUP BY state, day
"""


HEARTBEAT_TOL_S = 900  # liveness window after each heartbeat (15 min)


def q_heartbeat_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat liveness rollup (the timescaledb-toolkit
    ``heartbeat_agg`` shape): each user's events are heartbeats that
    assert liveness for HEARTBEAT_TOL_S seconds; the covered time is
    the UNION of those intervals.  Consecutive heartbeats <= TOL apart
    chain into one live island, so per island
    ``covered = (last - first) + TOL`` and per user we emit island
    count, heartbeat count, and total covered seconds.

    Differs from q_sessionize (same gaps-and-islands machinery) in the
    aggregate semantics: interval-union coverage seconds, not session
    labels — equal-timestamp heartbeats land in one island regardless
    of intra-second order, so no tie-break is needed.

    Shape: one exchange on user_id, two same-partition window passes
    (lag, then running island sum), then two map-side-combinable
    groupBys.  Partitions are per-user — the same bound q_sessionize
    carries; a pathologically hot user gets the (user, day) stitch
    cure documented on q_interarrival."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp("ts").cast("long").alias("es"),
    )
    w = Window.partitionBy("user_id").orderBy("es")
    lagged = s.select(
        "user_id",
        "es",
        F.lag("es").over(w).alias("prev"),
    )
    new_island = (
        F.isnull("prev")
        | (F.col("es") - F.col("prev") > F.lit(HEARTBEAT_TOL_S))
    ).cast("long")
    isl = lagged.select(
        "user_id",
        "es",
        F.sum(new_island)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    per_island = isl.groupBy("user_id", "island").agg(
        F.count("*").cast("long").alias("n_hb"),
        (F.max("es") - F.min("es") + HEARTBEAT_TOL_S).alias("covered"),
    )
    return per_island.groupBy("user_id").agg(
        F.sum("n_hb").cast("long").alias("n_heartbeats"),
        F.count("*").cast("long").alias("n_islands"),
        F.sum("covered").cast("long").alias("live_s"),
    )


_HEARTBEAT_UPTIME = f"""
WITH s AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
), lagged AS (
  SELECT user_id, es,
         lag(es) OVER (PARTITION BY user_id ORDER BY es) AS prev
  FROM s
), isl AS (
  SELECT user_id, es,
         sum(CASE WHEN prev IS NULL OR es - prev > {HEARTBEAT_TOL_S}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY es
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM lagged
), per_island AS (
  SELECT user_id, island,
         CAST(count(*) AS BIGINT) AS n_hb,
         max(es) - min(es) + {HEARTBEAT_TOL_S} AS covered
  FROM isl GROUP BY user_id, island
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(sum(n_hb) AS BIGINT) AS n_heartbeats,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(covered) AS BIGINT) AS live_s
FROM per_island GROUP BY user_id
"""


CONC_WINDOW_S = 600  # each event asserts activity for 10 minutes


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day by a DISTRIBUTED sweep-line: every
    event opens a half-open activity interval [es, es+600); the
    concurrency function +1s at starts and -1s at ends, and the
    per-day peak is the running sum's max over the day — the
    capacity-sizing census (max simultaneous sessions) that a naive
    per-instant self-join would quadratically die on.

    Exactness at day boundaries: a midnight SENTINEL row (delta 0) per
    day in the span captures the carry-in concurrency, so a day whose
    peak is inherited from intervals opened the previous day still
    reports it.  Tie order at one instant is (t, delta ASC): ends
    (-1) before sentinels (0) before starts (+1) — the half-open
    interval contract.

    Shape: deltas pre-aggregate to (t, delta, net) — map-side combine
    collapses same-second churn BEFORE any shuffle — then
    prefix.running_sums supplies the global running sum with bounded
    per-partition sorts (range partition + driver-cumulated offsets,
    never a single-task Window.orderBy), and a final map-side
    groupBy(day) takes the max."""
    from .. import prefix

    ev = load_table(spark, sf_dir, "events")
    es = ev.select(F.unix_timestamp("ts").cast("long").alias("es"))
    starts = es.select(F.col("es").alias("t"), F.lit(1).cast("long").alias("d"))
    ends = es.select(
        (F.col("es") + CONC_WINDOW_S).alias("t"),
        F.lit(-1).cast("long").alias("d"),
    )
    bounds = starts.unionAll(ends).agg(
        F.expr("min(t) DIV 86400").cast("long").alias("d0"),
        F.expr("max(t) DIV 86400").cast("long").alias("d1"),
    )
    sentinels = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    ).select(
        (F.col("day") * 86400).alias("t"), F.lit(0).cast("long").alias("d")
    )
    deltas = starts.unionAll(ends).unionAll(sentinels)
    net = deltas.groupBy("t", "d").agg(F.sum("d").cast("long").alias("net"))
    conc = prefix.running_sums(net, ["net"], order_cols=["t", "d"])
    return (
        conc.select(F.expr("t DIV 86400").cast("long").alias("day"), "rs_net")
        .groupBy("day")
        .agg(F.max("rs_net").cast("long").alias("peak"))
    )


_PEAK_CONCURRENCY = f"""
WITH s AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
), d0 AS (
  SELECT es AS t, CAST(1 AS BIGINT) AS d FROM s
  UNION ALL
  SELECT es + {CONC_WINDOW_S}, CAST(-1 AS BIGINT) FROM s
), bounds AS (
  SELECT min(t) // 86400 AS lo, max(t) // 86400 AS hi FROM d0
), sent AS (
  SELECT (lo + g) * 86400 AS t, CAST(0 AS BIGINT) AS d
  FROM bounds CROSS JOIN (
    SELECT unnest(generate_series(0, (SELECT hi - lo FROM bounds))) AS g
  ) gs
), net AS (
  SELECT t, d, CAST(sum(d) AS BIGINT) AS net
  FROM (SELECT * FROM d0 UNION ALL SELECT * FROM sent)
  GROUP BY t, d
), conc AS (
  SELECT t,
         sum(net) OVER (ORDER BY t, d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM net
)
SELECT CAST(t // 86400 AS BIGINT) AS day, CAST(max(c) AS BIGINT) AS peak
FROM conc GROUP BY t // 86400
"""
