"""Signal analysis on per-hour event counts and event values.

Anomaly detectors (z-score, CUSUM, MAD), autocorrelation and
cross-correlation, SAX symbols and motifs, alert episodes (batch and
streaming), SLO ribbons, trends, change points, forecasts, bursts,
drawdowns and digit censuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..prefix import running_mins, running_sums
from ..session import load_table, pin
from .sequences import ACF_MAX_LAG, ACF_SPINE_MAX, _hourly_counts


CUSUM_TARGET = 5000   # centi-value drift target (50.00)
CUSUM_ALARM = 100000  # alarm threshold on the one-sided CUSUM statistic


def q_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint statistic (Page 1954) per event
    type, aggregated to alarm summaries per hour.  The textbook
    recurrence ``S_i = max(0, S_{i-1} + (x_i - target))`` looks
    inherently sequential, but has the closed form
    ``S_i = R_i - min(0, min_{j<=i} R_j)`` over the plain running sum
    ``R`` of deviations — i.e. CUSUM is two PREFIX passes, both of
    which ride the scale-safe two-level primitives
    (``prefix.running_sums`` + ``prefix.running_mins``: range
    partition, bounded sorts, no per-type one-task funnel).  Exact
    integer arithmetic end to end; the oracle replays the closed form
    with window functions."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        F.unix_timestamp("ts").alias("t"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        "event_id",
    ).withColumn("dev", (F.col("v") - CUSUM_TARGET).cast("long"))
    rs = running_sums(
        ev, ["dev"], ["t", "event_id"], partition_cols=["event_type"]
    )
    rm = running_mins(
        rs, ["rs_dev"], ["t", "event_id"], partition_cols=["event_type"]
    )
    s = F.col("rs_dev") - F.least(F.lit(0).cast("long"),
                                  F.col("rm_rs_dev"))
    return (
        rm.select("event_type", "hb", s.alias("s"))
        .groupBy("event_type", "hb")
        .agg(
            F.max("s").cast("long").alias("cusum_max"),
            F.sum((F.col("s") > CUSUM_ALARM).cast("long"))
            .cast("long")
            .alias("n_alarms"),
        )
        .select(
            "event_type", F.col("hb").cast("long").alias("hb"),
            "cusum_max", "n_alarms",
        )
    )


_CUSUM_ALARM = f"""
WITH ev AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(floor(value * 100) AS BIGINT) - {CUSUM_TARGET} AS dev,
         event_id
  FROM events
), r AS (
  SELECT event_type, hb, t, event_id,
         SUM(dev) OVER (PARTITION BY event_type ORDER BY t, event_id
                        ROWS UNBOUNDED PRECEDING) AS rs
  FROM ev
), c AS (
  SELECT event_type, hb,
         rs - LEAST(0, MIN(rs) OVER (PARTITION BY event_type
                                     ORDER BY t, event_id
                                     ROWS UNBOUNDED PRECEDING)) AS s
  FROM r
)
SELECT event_type, hb,
       CAST(max(s) AS BIGINT) AS cusum_max,
       CAST(sum(CASE WHEN s > {CUSUM_ALARM} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarms
FROM c GROUP BY event_type, hb
"""


def _spine_guard(hourly: DataFrame, who: str) -> DataFrame:
    """Broadcast 1-row guard: gap_fill uses GLOBAL bounds, so every
    series' filled length is the same max(tb)-min(tb)+1 — one tiny
    aggregate over the hourly table checks the whole overflow budget
    (recomputing the filled spine per source to count it would re-run
    the scan+join for a constant)."""
    return hourly.agg(
        (F.max("tb") - F.min("tb") + 1).alias("_span")
    ).select(
        F.when(F.col("_span") < ACF_SPINE_MAX, F.lit(0))
        .otherwise(
            F.raise_error(
                F.lit(
                    f"{who}: spine longer than 2^15 buckets breaks "
                    "the overflow budget; shard the series by season "
                    "first"
                )
            ).cast("int")
        )
        .alias("_g")
    )


def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation structure of each event type's hourly count
    series at lags 1..3 — the seasonality/persistence diagnostic behind
    every forecasting pipeline.  The series is zero-filled over the
    global hour spine first (a gap IS a 0-count observation), then each
    lag pairs (x_t, x_{t+k}) via an equi-join of the filled series with
    itself shifted by k.

    Float-free contract: Pearson's r needs a sqrt, so the query emits
    the EXACT integer moment numerators instead — ``cov_num = n*Sxy -
    Sx*Sy`` and the two variance numerators — from which r is
    ``cov_num / sqrt(var_head * var_tail)``; both engines agree
    bit-for-bit on the integers.  Overflow budget: counts < 2^16
    (runtime raise in _hourly_counts) and spine < 2^15 buckets (raise
    here) keep ``n_pairs * Sxy < 2^15 * 2^15 * 2^32 = 2^62``.

    Shape: one map-side-combinable groupBy to the ~3000x-reduced hourly
    table, a broadcast 1-row bounds aggregate, one spine join, then a
    self equi-join and final groupBy — every shuffled row is an
    AGGREGATED bucket, never a raw event.  At 10^12 events the filled
    table is |types| * |hours| rows; for multi-year spines shard the
    series by season before pairing (the guard raise names the knob)."""
    from ..gapfill import gap_fill

    hourly = _hourly_counts(spark, sf_dir)
    filled = gap_fill(hourly, ["source"], "tb", ["n"], policy="zero")
    base = filled.select(
        "source", "tb", F.col("n").cast("long").alias("n")
    )
    spine_guard = _spine_guard(hourly, "q_acf_lags")
    head = base.select(
        "source",
        "tb",
        F.col("n").alias("n_head"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, ACF_MAX_LAG + 1)])
        ).alias("lag"),
    ).withColumn("tb_tail", F.col("tb") + F.col("lag"))
    tail = base.select(
        "source", F.col("tb").alias("tb_tail"), F.col("n").alias("n_tail")
    )
    paired = head.join(tail, ["source", "tb_tail"]).crossJoin(
        F.broadcast(spine_guard)
    )
    g = paired.groupBy("source", "lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("n_head") * F.col("n_tail")).alias("sxy"),
        F.sum("n_head").alias("sx"),
        F.sum("n_tail").alias("sy"),
        F.sum(F.col("n_head") * F.col("n_head")).alias("qx"),
        F.sum(F.col("n_tail") * F.col("n_tail")).alias("qy"),
    )
    return g.select(
        "source",
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("cov_num"),
        (F.col("n_pairs") * F.col("qx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("var_head"),
        (F.col("n_pairs") * F.col("qy") - F.col("sy") * F.col("sy"))
        .cast("long")
        .alias("var_tail"),
    )


_ACF_LAGS = f"""
WITH hourly AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS tb,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(tb) AS lo, max(tb) AS hi FROM hourly
), spine AS (
  SELECT s.source, g.b AS tb
  FROM (SELECT DISTINCT source FROM hourly) s
  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds) g
), filled AS (
  SELECT spine.source, spine.tb, COALESCE(hourly.n, 0) AS n
  FROM spine LEFT JOIN hourly
    ON spine.source = hourly.source AND spine.tb = hourly.tb
), paired AS (
  SELECT f.source, l.lag, f.n AS nh, t.n AS nt
  FROM filled f
  CROSS JOIN (VALUES (1), (2), (3)) AS l(lag)
  JOIN filled t ON t.source = f.source AND t.tb = f.tb + l.lag
)
SELECT source,
       CAST(lag AS BIGINT) AS lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) * sum(nh * nt) - sum(nh) * sum(nt) AS BIGINT)
         AS cov_num,
       CAST(count(*) * sum(nh * nh) - sum(nh) * sum(nh) AS BIGINT)
         AS var_head,
       CAST(count(*) * sum(nt * nt) - sum(nt) * sum(nt) AS BIGINT)
         AS var_tail
FROM paired GROUP BY 1, 2
"""


XCORR_A, XCORR_B = "click", "error"
XCORR_LAGS = (-2, -1, 0, 1, 2)


def q_xcorr_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event types' hourly count
    series — does `click` lead `error`?  Pairs (x_t, y_{t+k}) for k in
    -2..2 over the zero-filled global spine; emits the same exact
    integer moment numerators as q_acf_lags (cov and both variances
    cross-multiplied by n_pairs) so the verdict is float-free.

    Shape: identical to q_acf_lags minus the per-source fan-out — two
    filtered slices of the filled hourly table, a 5-way lag expand on
    the (tiny) x side, one equi-join, one groupBy — including the SAME
    2^15-bucket spine guard (the moment products share the overflow
    budget).  Output is |lags| rows however large the corpus."""
    from ..gapfill import gap_fill

    hourly = _hourly_counts(spark, sf_dir).where(
        F.col("source").isin(XCORR_A, XCORR_B)
    )
    filled = gap_fill(hourly, ["source"], "tb", ["n"], policy="zero")
    guard = _spine_guard(hourly, "q_xcorr_types")
    xs = filled.where(F.col("source") == XCORR_A).select(
        "tb",
        F.col("n").cast("long").alias("x"),
        F.explode(
            F.array(*[F.lit(k) for k in XCORR_LAGS])
        ).alias("lag"),
    ).withColumn("tb_tail", F.col("tb") + F.col("lag"))
    ys = filled.where(F.col("source") == XCORR_B).select(
        F.col("tb").alias("tb_tail"), F.col("n").cast("long").alias("y")
    )
    g = xs.join(ys, "tb_tail").crossJoin(F.broadcast(guard)).groupBy(
        "lag"
    ).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("qx"),
        F.sum(F.col("y") * F.col("y")).alias("qy"),
    )
    return g.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("cov_num"),
        (F.col("n_pairs") * F.col("qx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("var_x"),
        (F.col("n_pairs") * F.col("qy") - F.col("sy") * F.col("sy"))
        .cast("long")
        .alias("var_y"),
    )


_XCORR_TYPES = f"""
WITH hourly AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS tb,
         CAST(count(*) AS BIGINT) AS n
  FROM events
  WHERE event_type IN ('{XCORR_A}', '{XCORR_B}')
  GROUP BY 1, 2
), bounds AS (
  SELECT min(tb) AS lo, max(tb) AS hi FROM hourly
), spine AS (
  SELECT s.source, g.b AS tb
  FROM (SELECT DISTINCT source FROM hourly) s
  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds) g
), filled AS (
  SELECT spine.source, spine.tb, COALESCE(hourly.n, 0) AS n
  FROM spine LEFT JOIN hourly
    ON spine.source = hourly.source AND spine.tb = hourly.tb
), paired AS (
  SELECT l.lag, x.n AS xv, y.n AS yv
  FROM filled x
  CROSS JOIN (VALUES (-2), (-1), (0), (1), (2)) AS l(lag)
  JOIN filled y ON y.tb = x.tb + l.lag
  WHERE x.source = '{XCORR_A}' AND y.source = '{XCORR_B}'
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) * sum(xv * yv) - sum(xv) * sum(yv) AS BIGINT)
         AS cov_num,
       CAST(count(*) * sum(xv * xv) - sum(xv) * sum(xv) AS BIGINT)
         AS var_x,
       CAST(count(*) * sum(yv * yv) - sum(yv) * sum(yv) AS BIGINT)
         AS var_y
FROM paired GROUP BY 1
"""


SAX_SEGMENT_H = 24  # PAA segment width: one day of hourly buckets
SAX_ALPHABET = 4    # symbols per source (quartile buckets)


def q_sax_paa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA + SAX symbolic downsampling of each event type's hourly
    count series (Lin et al.'s Symbolic Aggregate approXimation, the
    standard front-end for time-series motif/similarity search): the
    zero-filled series reduces to daily Piecewise Aggregate means
    (integer floor), and each segment maps to one of 4 symbols by its
    QUARTILE RANK within its own series — rank-based discretization
    instead of the classical Gaussian breakpoints, so the verdict
    needs no float CDF and both engines agree exactly (ties broken by
    segment id: the ntile order is total).

    Shape: groupBy to hourly (~3000x), spine join, groupBy to daily
    segments (another 24x), then ONE ntile window over each source's
    segment rows — bounded by days-of-history per source, aggregated
    rows only (for decade-scale spines route through
    ranking.global_rank instead; the segment table at 10 years is
    ~3.7k rows/source, far inside a task)."""
    from ..gapfill import gap_fill

    hourly = _hourly_counts(spark, sf_dir)
    filled = gap_fill(hourly, ["source"], "tb", ["n"], policy="zero")
    paa = (
        filled.groupBy(
            "source",
            F.expr(f"tb DIV {SAX_SEGMENT_H}").alias("segment"),
        )
        .agg(
            F.sum("n").cast("long").alias("s"),
            F.count("*").cast("long").alias("c"),
        )
        .select(
            "source",
            F.col("segment").cast("long").alias("segment"),
            F.expr("s DIV c").cast("long").alias("paa"),
        )
    )
    w = Window.partitionBy("source").orderBy("paa", "segment")
    return paa.select(
        "source",
        "segment",
        "paa",
        F.ntile(SAX_ALPHABET).over(w).cast("long").alias("symbol"),
    )


_SAX_PAA = f"""
WITH hourly AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS tb,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(tb) AS lo, max(tb) AS hi FROM hourly
), spine AS (
  SELECT s.source, g.b AS tb
  FROM (SELECT DISTINCT source FROM hourly) s
  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds) g
), filled AS (
  SELECT spine.source, spine.tb, COALESCE(hourly.n, 0) AS n
  FROM spine LEFT JOIN hourly
    ON spine.source = hourly.source AND spine.tb = hourly.tb
), paa AS (
  SELECT source, tb // {SAX_SEGMENT_H} AS segment,
         sum(n) // count(*) AS paa
  FROM filled GROUP BY 1, 2
)
SELECT source,
       CAST(segment AS BIGINT) AS segment,
       CAST(paa AS BIGINT) AS paa,
       CAST(ntile({SAX_ALPHABET}) OVER (
         PARTITION BY source ORDER BY paa, segment) AS BIGINT) AS symbol
FROM paa
"""


SAX_MOTIF_LEN = 3  # motif = 3 consecutive daily symbols


def q_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif discovery over the SAX stream: count every length-3 word
    of consecutive daily symbols per series — recurring words are the
    series' motifs (Lin et al.'s use of SAX), the 'what does a normal
    3-day shape look like' primitive behind whole-series similarity
    and discord detection.

    Shape: everything q_sax_paa does (all reductions over aggregated
    buckets), then two lead() taps on the per-source segment window —
    the same bounded days-per-source partitions the ntile already
    sorts — and one groupBy over (source, word).  Output is at most
    |sources| * 4^3 rows."""
    sym = q_sax_paa(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("segment")
    words = sym.select(
        "source",
        "segment",
        F.concat_ws(
            "",
            F.col("symbol"),
            F.lead("symbol", 1).over(w),
            F.lead("symbol", 2).over(w),
        ).alias("motif"),
    ).where(F.length("motif") == SAX_MOTIF_LEN)
    return words.groupBy("source", "motif").agg(
        F.count("*").cast("long").alias("n")
    )


def _sax_motifs_sql() -> str:
    """Oracle: wrap the SAX CTE, tap lead() twice, count words."""
    sax_inner = _SAX_PAA.strip()
    return f"""
WITH sax AS (
{sax_inner}
), words AS (
  SELECT source,
         CAST(symbol AS VARCHAR)
         || CAST(lead(symbol, 1) OVER (
              PARTITION BY source ORDER BY segment) AS VARCHAR)
         || CAST(lead(symbol, 2) OVER (
              PARTITION BY source ORDER BY segment) AS VARCHAR)
           AS motif
  FROM sax
)
SELECT source, motif, CAST(count(*) AS BIGINT) AS n
FROM words WHERE length(motif) = {SAX_MOTIF_LEN}
GROUP BY 1, 2
"""


ZSCORE_Z = 3          # flag |v - mean| > 3 sigma (population variance)
ZSCORE_V_BITS = 17    # centi-values < 2^17 keep every product < 2^63
ZSCORE_N_MAX = 16384  # group-size bound for the same overflow budget


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: per (event_type, hour) count events more
    than 3 population-sigma from the in-group mean — entirely in
    int64.  The float-free trick is cross-multiplication: with
    ``d = n*v - S`` (S = group sum, Q = group sum of squares), the
    z-test |v-mean| > Z*sigma becomes ``d^2 > Z^2 * n * (n*Q - S^2) /
    n`` and is evaluated as the documented truncating-integer rule
    ``d^2 DIV n  >  Z^2 * ((n*Q - S^2) DIV n)`` — Spark DIV and DuckDB
    // truncate identically on the non-negative operands, so both
    engines apply the byte-identical decision.  Domain guards keep
    every intermediate under 2^63: centi-values < 2^17 (runtime
    raise), group size <= 2^14 (post-agg raise).

    Shape: one map-side-combinable groupBy for the stats, broadcast of
    the tiny (type, hour) stats table back onto the scan, one more
    map-side-combinable groupBy for the counts — two exchanges of
    AGGREGATED rows only, no window, no sort at any scale."""
    vmax = 1 << ZSCORE_V_BITS
    raw = load_table(spark, sf_dir, "events")
    guard_v = F.floor(F.col("value") * 100).cast("long")
    ev = raw.select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        F.when(guard_v.between(0, vmax - 1), guard_v)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"q_zscore_outliers: value outside [0, 2^"
                          f"{ZSCORE_V_BITS}) centi-value domain: "),
                    guard_v.cast("string"),
                )
            ).cast("long")
        )
        .alias("v"),
    )
    stats = ev.groupBy("event_type", "hb").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("q"),
    ).select(
        "event_type", "hb",
        F.when(F.col("n") <= ZSCORE_N_MAX, F.col("n"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"q_zscore_outliers: group larger than "
                          f"{ZSCORE_N_MAX} breaks the overflow budget: "),
                    F.col("n").cast("string"),
                )
            ).cast("long")
        ).alias("n"),
        "s", "q",
    )
    joined = ev.join(F.broadcast(stats), ["event_type", "hb"])
    d = F.col("n") * F.col("v") - F.col("s")
    var_n = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    is_out = (
        F.expr("_d2 DIV n") > ZSCORE_Z * ZSCORE_Z * F.expr("_vn DIV n")
    )
    return (
        joined.withColumn("_d2", (d * d).cast("long"))
        .withColumn("_vn", var_n.cast("long"))
        .withColumn("_out", is_out.cast("long"))
        .groupBy("event_type", "hb")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.sum("_out").cast("long").alias("n_outliers"),
        )
        .select(
            "event_type", F.col("hb").cast("long").alias("hb"),
            "n", "n_outliers",
        )
    )


_ZSCORE_OUTLIERS = f"""
WITH ev AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
), stats AS (
  SELECT event_type, hb,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s,
         CAST(sum(v * v) AS BIGINT) AS q
  FROM ev GROUP BY event_type, hb
), flagged AS (
  SELECT e.event_type, e.hb, t.n,
         CASE WHEN ((t.n * e.v - t.s) * (t.n * e.v - t.s)) // t.n
                   > {ZSCORE_Z * ZSCORE_Z}
                     * ((t.n * t.q - t.s * t.s) // t.n)
              THEN 1 ELSE 0 END AS is_out
  FROM ev e JOIN stats t USING (event_type, hb)
)
SELECT event_type, hb,
       CAST(max(n) AS BIGINT) AS n,
       CAST(sum(is_out) AS BIGINT) AS n_outliers
FROM flagged GROUP BY event_type, hb
"""


ALERT_HOT = 4  # hourly count at/above which the hour is alerting


def q_alert_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-crossing alert episodes: maximal runs of consecutive
    hours where a type's event count stays >= ALERT_HOT — the
    paging/alerting primitive (episode start/end, duration, peak,
    volume) a monitoring pipeline derives from rollup tiers.

    The naive islands formulation is ONE row_number() window
    partitioned by type — a handful of types means one task sorts a
    type's entire history.  This plan bounds every corpus-shaped sort
    by a day, like q_interarrival's stitch:

    1. islands within (source, day) partitions (<= 24 rows per task):
       grp = tb - row_number() is constant exactly on consecutive-hour
       runs, one map-side-combinable groupBy folds each run to a
       day-local segment row;
    2. segments that TOUCH a midnight boundary (start at hour 0 or end
       at hour 23 — at most 2 per (source, day), so the table is
       hours-of-history-bounded, never corpus-bounded) chain across
       days via a lag + running-sum window over that tiny table: a
       segment continues the chain iff it starts at hour 0 and the
       previous boundary segment ended at exactly start-1 (interior
       segments can never sit between the two — a right-open segment
       ends at hour 23 and a left-open one starts at hour 0);
    3. interior segments ARE episodes and bypass the window entirely.

    The stitched episodes are exactly the single-window islands, which
    is what the DuckDB oracle computes directly."""
    hourly = _hourly_counts(spark, sf_dir)
    hot = hourly.where(F.col("n") >= ALERT_HOT).withColumn(
        "day", F.expr("tb DIV 24")
    )
    w_day = Window.partitionBy("source", "day").orderBy("tb")
    segs = (
        hot.withColumn("grp", F.col("tb") - F.row_number().over(w_day))
        .groupBy("source", "day", "grp")
        .agg(
            F.min("tb").alias("s"),
            F.max("tb").alias("e"),
            F.count("*").cast("long").alias("h"),
            F.max("n").alias("p"),
            F.sum("n").cast("long").alias("t"),
        )
    )
    on_boundary = (F.col("s") % 24 == 0) | (F.col("e") % 24 == 23)
    interior = segs.where(~on_boundary).select(
        "source",
        F.col("s").cast("long").alias("start_tb"),
        F.col("e").cast("long").alias("end_tb"),
        F.col("h").alias("n_hours"),
        F.col("p").cast("long").alias("peak_n"),
        F.col("t").alias("total_n"),
    )
    w_src = Window.partitionBy("source").orderBy("s")
    w_run = w_src.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chained = (
        segs.where(on_boundary)
        .withColumn(
            "new_chain",
            F.when(
                (F.col("s") % 24 == 0)
                & (F.lag("e").over(w_src) == F.col("s") - 1),
                F.lit(0),
            ).otherwise(F.lit(1)),
        )
        .withColumn("chain", F.sum("new_chain").over(w_run))
        .groupBy("source", "chain")
        .agg(
            F.min("s").cast("long").alias("start_tb"),
            F.max("e").cast("long").alias("end_tb"),
            F.sum("h").cast("long").alias("n_hours"),
            F.max("p").cast("long").alias("peak_n"),
            F.sum("t").cast("long").alias("total_n"),
        )
        .select(
            "source", "start_tb", "end_tb", "n_hours", "peak_n", "total_n"
        )
    )
    return interior.unionByName(chained)


_ALERT_EPISODES = f"""
WITH h AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS tb,
         count(*) AS n
  FROM events GROUP BY 1, 2
), hot AS (
  SELECT source, tb, n,
         tb - row_number() OVER (PARTITION BY source ORDER BY tb) AS grp
  FROM h WHERE n >= {ALERT_HOT}
)
SELECT source,
       CAST(min(tb) AS BIGINT) AS start_tb,
       CAST(max(tb) AS BIGINT) AS end_tb,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(max(n) AS BIGINT) AS peak_n,
       CAST(sum(n) AS BIGINT) AS total_n
FROM hot GROUP BY source, grp
"""


def _day_value_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, day, v): per-event integer cents keyed by source and
    day bucket — the shared input of the robust-stats queries."""
    return load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("source"),
        F.expr(
            "CAST(floor(unix_timestamp(date_trunc('hour', ts)) / 3600)"
            " AS BIGINT) DIV 24"
        ).alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )


def _day_value_hist(vals: DataFrame) -> DataFrame:
    """Collapse an event-sized (source, day, v) stream to its value
    histogram (source, day, v, cnt) — ONE map-side-combinable groupBy;
    everything quantile-shaped downstream works on histogram rows
    (bounded by the distinct-cents domain per source-day, never by
    event count)."""
    return vals.groupBy("source", "day", "v").agg(
        F.count("*").cast("long").alias("cnt")
    )


def _exact_day_quantiles(c: DataFrame) -> DataFrame:
    """Histogram (source, day, v, cnt) -> n, p50_c, p95_c, max_c:
    EXACT discrete quantiles (smallest v with cumulative count >=
    ceil(q*n)) in pure integer arithmetic — cum*2 >= n and cum*20 >=
    19*n are the division-free forms of ceil(n/2) and ceil(19n/20).
    The cumulative window runs over histogram rows only; the final
    conditional-min groupBy is map-side combinable and reuses the
    window's hash partitioning."""
    wd = Window.partitionBy("source", "day").orderBy("v")
    w_cum = wd.rowsBetween(Window.unboundedPreceding, 0)
    # same (partition, order) spec for the total => one WindowExec, one
    # sort; the full frame is computed once per partition (never the
    # O(n^2) per-row re-scan of a growing-tail frame)
    w_all = wd.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = c.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    return cum.groupBy("source", "day").agg(
        F.max("n").cast("long").alias("n"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("v")))
        .cast("long")
        .alias("p50_c"),
        F.min(F.when(20 * F.col("cum") >= 19 * F.col("n"), F.col("v")))
        .cast("long")
        .alias("p95_c"),
        F.max("v").cast("long").alias("max_c"),
    )


def q_slo_ribbon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, day) latency-style SLO ribbon: event count, exact
    integer-cents p50 / p95 / max — the daily percentile bands a
    service dashboard draws from a rollup tier.  Exactness via the
    cumulative-histogram formulation (see _exact_day_quantiles); no
    float percentile ever enters the plan."""
    return _exact_day_quantiles(
        _day_value_hist(_day_value_cents(spark, sf_dir))
    )


_SLO_RIBBON = """
WITH ev AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT)
           // 24 AS day,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
), c AS (
  SELECT source, day, v, CAST(count(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2, 3
), w AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY source, day ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY source, day) AS n
  FROM c
)
SELECT source, day,
       CAST(max(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN 2 * cum >= n THEN v END) AS BIGINT) AS p50_c,
       CAST(min(CASE WHEN 20 * cum >= 19 * n THEN v END) AS BIGINT)
         AS p95_c,
       CAST(max(v) AS BIGINT) AS max_c
FROM w GROUP BY source, day
"""


def q_stream_alert_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alert-episode tracker as a STATEFUL STREAM
    (streaming.alert_episode_stream): hot hourly counts replay in three
    time-ordered phases (episodes deliberately straddle the phase cuts,
    so open-episode state must survive micro-batch boundaries) plus a
    below-threshold sentinel per source that closes the last open
    episode; the closed episodes landed exactly-once under the
    streaming checkpoint must value-hash-equal the batch islands
    oracle (_ALERT_EPISODES)."""
    import tempfile

    from ..streaming import drain, run_alert_episode_stream

    hot = pin(
        _hourly_counts(spark, sf_dir)
        .where(F.col("n") >= ALERT_HOT)
        .select("source", "tb", "n")
    )
    lo, hi = hot.agg(F.min("tb"), F.max("tb")).first()
    if lo is None:  # no hot hours at this scale: no episodes
        return spark.createDataFrame(
            [],
            "source string, start_tb long, end_tb long, "
            "n_hours long, peak_n long, total_n long",
        )
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    sentinel = hot.select("source").distinct().select(
        "source",
        F.lit(hi + 2).cast("long").alias("tb"),
        F.lit(0).cast("long").alias("n"),
    )
    with tempfile.TemporaryDirectory(
        prefix="tb_alert_stream_", ignore_cleanup_errors=True
    ) as work:
        hot_dir = f"{work}/hot"
        # phase files are ordered by modification time (the same
        # FileStreamSource contract run_attribution_stream pins)
        hot.where(F.col("tb") <= cut1).coalesce(1).write.parquet(hot_dir)
        hot.where(
            (F.col("tb") > cut1) & (F.col("tb") <= cut2)
        ).coalesce(1).write.parquet(hot_dir, mode="append")
        hot.where(F.col("tb") > cut2).coalesce(1).write.parquet(
            hot_dir, mode="append"
        )
        sentinel.coalesce(1).write.parquet(hot_dir, mode="append")
        drain(
            run_alert_episode_stream(
                spark, hot_dir, f"{work}/out", f"{work}/ckpt",
                threshold=ALERT_HOT, max_files_per_trigger=1,
            ),
            "alert episode stream",
        )
        return pin(spark.read.parquet(f"{work}/out").select(
            "source", "start_tb", "end_tb", "n_hours", "peak_n",
            "total_n",
        ))


def q_slo_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly SLO ribbon by MERGING the stored per-day value histograms
    (never re-scanning raw at the coarser grain): exact-quantile
    histograms are sum-mergeable, so the weekly p50/p95/max comes from
    one groupBy over day-histogram rows — the cagg-hierarchy story
    (maintain the finest sketch, serve every coarser granularity from
    it) applied to quantiles, where mean-based rollups can't compose.
    Bit-identical to computing the week directly from raw, which is
    what the oracle does."""
    hist_day = _day_value_hist(_day_value_cents(spark, sf_dir))
    hist_week = (
        hist_day.groupBy(
            F.col("source"),
            F.expr("day DIV 7").alias("day"),  # week key, helper reuse
            F.col("v"),
        )
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    q = _exact_day_quantiles(hist_week)
    return q.select(
        "source",
        F.col("day").alias("week"),
        "n",
        "p50_c",
        "p95_c",
        "max_c",
    )


_SLO_WEEKLY = """
WITH ev AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT)
           // 24 // 7 AS week,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
), c AS (
  SELECT source, week, v, CAST(count(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2, 3
), w AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY source, week ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY source, week) AS n
  FROM c
)
SELECT source, week,
       CAST(max(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN 2 * cum >= n THEN v END) AS BIGINT) AS p50_c,
       CAST(min(CASE WHEN 20 * cum >= 19 * n THEN v END) AS BIGINT)
         AS p95_c,
       CAST(max(v) AS BIGINT) AS max_c
FROM w GROUP BY source, week
"""


MAD_SCALE = 5  # alarm when |v - median| > MAD_SCALE * MAD


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly census: per (source, day), how many events sit
    more than MAD_SCALE median-absolute-deviations from the day's
    median — the outlier detector that, unlike q_zscore_outliers'
    mean/stddev, a handful of extreme points cannot poison (they move
    a mean arbitrarily; they cannot move a median past its neighbor).

    Two passes of the SAME exact-quantile machinery, both over the
    VALUE HISTOGRAM: events collapse to (source, day, v, cnt) once
    (the only event-wide exchange) and that histogram is
    pinned, so the median pass, the deviation
    histogram (|v - median| re-binned by a histogram-sized groupBy,
    counts summed — never a second pass over raw events), the MAD
    pass, and the final outlier count all read the pinned metadata.
    The median/MAD tables are sources x days rows and come back via
    broadcast joins.  Pure integers throughout; ties resolve
    identically on both engines because the quantile definition is
    the same explicit formula."""
    hist = pin(_day_value_hist(
        _day_value_cents(spark, sf_dir)
    ))
    med = _exact_day_quantiles(hist).select(
        "source", "day", F.col("p50_c").alias("med")
    )
    devhist = (
        hist.join(F.broadcast(med), ["source", "day"])
        .groupBy(
            "source",
            "day",
            "med",
            F.abs(F.col("v") - F.col("med")).alias("v"),
        )
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    mad = _exact_day_quantiles(
        devhist.select("source", "day", "v", "cnt")
    ).select("source", "day", F.col("p50_c").alias("mad"))
    return (
        devhist.join(F.broadcast(mad), ["source", "day"])
        .groupBy("source", "day")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.max("med").cast("long").alias("med_c"),
            F.max("mad").cast("long").alias("mad_c"),
            F.sum(
                F.when(
                    F.col("v") > F.lit(MAD_SCALE) * F.col("mad"),
                    F.col("cnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


_MAD_OUTLIERS = f"""
WITH ev AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT)
           // 24 AS day,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
), c1 AS (
  SELECT source, day, v, count(*) AS cnt FROM ev GROUP BY 1, 2, 3
), w1 AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY source, day ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY source, day) AS n
  FROM c1
), med AS (
  SELECT source, day, min(CASE WHEN 2 * cum >= n THEN v END) AS med
  FROM w1 GROUP BY source, day
), dev AS (
  SELECT ev.source, ev.day, abs(ev.v - med.med) AS av, med.med
  FROM ev JOIN med USING (source, day)
), c2 AS (
  SELECT source, day, av, count(*) AS cnt FROM dev GROUP BY 1, 2, 3
), w2 AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY source, day ORDER BY av
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY source, day) AS n
  FROM c2
), mad AS (
  SELECT source, day, min(CASE WHEN 2 * cum >= n THEN av END) AS mad
  FROM w2 GROUP BY source, day
)
SELECT dev.source, dev.day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(dev.med) AS BIGINT) AS med_c,
       CAST(max(mad.mad) AS BIGINT) AS mad_c,
       CAST(sum(CASE WHEN dev.av > {MAD_SCALE} * mad.mad
            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (source, day)
GROUP BY dev.source, dev.day
"""


TREND_N_MAX = 32768    # events per (type, day): n^2 * 2^28 < 2^59
TREND_V_BITS = 17      # centi-value domain [0, 2^17), like q_zscore
TREND_Q_MAX = 1 << 40  # sanity bound on the integer slope quotient


def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) least-squares trend slope — the
    ``stats_agg -> slope`` hyperfunction every monitoring stack derives
    alarms from ("is this metric drifting up?").  Time is minutes into
    the day, values centi-scaled; slope comes out milli-scaled
    (centi-units per minute x1000) as an EXACT integer floor via split
    division: q = floor(num/den) with the pmod form, then
    q*1000 + (r*1000) DIV den — never forming num*1000, which would
    overflow int64 where num alone cannot (the moment numerators are
    bounded by n^2 * 2^28 < 2^59 under the runtime guards below, but
    three more decimal digits are not).

    Overflow budget, enforced with the q_zscore raise_error convention:
    centi-values in [0, 2^17), n <= 32768 per (type, day) — both named
    in the error text.  Shape: ONE map-side-combinable groupBy of the
    five moment sums (n, St, Sv, Stv, Stt); raw events shuffle nowhere,
    the slope arithmetic runs on |types| x |days| aggregated rows.
    Degenerate days (all events in one minute: den = 0) are excluded,
    mirrored exactly by the oracle."""
    vmax = 1 << TREND_V_BITS
    raw = load_table(spark, sf_dir, "events")
    guard_v = F.floor(F.col("value") * 100).cast("long")
    ev = raw.select(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) AS LONG) DIV 86400").alias("day"),
        F.expr(
            "(CAST(unix_timestamp(ts) AS LONG) % 86400) DIV 60"
        ).alias("t"),
        F.when(guard_v.between(0, vmax - 1), guard_v)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"q_trend_slope: value outside [0, 2^"
                        f"{TREND_V_BITS}) centi-value domain: "
                    ),
                    guard_v.cast("string"),
                )
            ).cast("long")
        )
        .alias("v"),
    )
    g = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("t") * F.col("v")).cast("long").alias("stv"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
    ).select(
        "event_type",
        "day",
        F.when(F.col("n") <= TREND_N_MAX, F.col("n"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"q_trend_slope: group larger than {TREND_N_MAX}"
                        " breaks the overflow budget: "
                    ),
                    F.col("n").cast("string"),
                )
            ).cast("long")
        )
        .alias("n"),
        "st", "sv", "stv", "stt",
    )
    staged = g.select(
        "event_type",
        "day",
        "n",
        (F.col("n") * F.col("stv") - F.col("st") * F.col("sv")).alias("num"),
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).alias("den"),
    ).where(F.col("den") > 0)
    # floor(num/den) via pmod, then the milli digits from the remainder
    qq = staged.select(
        "event_type",
        "day",
        "n",
        "den",
        F.expr("(num - pmod(num, den)) DIV den").alias("q"),
        F.pmod(F.col("num"), F.col("den")).alias("r"),
    ).select(
        "event_type",
        "day",
        "n",
        "den",
        F.when(F.abs(F.col("q")) <= TREND_Q_MAX, F.col("q"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("q_trend_slope: slope quotient beyond 2^40 "
                          "(degenerate time spread): "),
                    F.col("q").cast("string"),
                )
            ).cast("long")
        )
        .alias("q"),
        "r",
    )
    return qq.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "n",
        (
            F.col("q") * 1000
            + F.expr("(r * 1000) DIV den")
        ).cast("long").alias("slope_milli"),
    )


_TREND_SLOPE = """
WITH ev AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 60 AS t,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
), g AS (
  SELECT event_type, day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(v) AS BIGINT) AS sv,
         CAST(sum(t * v) AS BIGINT) AS stv,
         CAST(sum(t * t) AS BIGINT) AS stt
  FROM ev GROUP BY 1, 2
), s AS (
  SELECT event_type, day, n,
         n * stv - st * sv AS num,
         n * stt - st * st AS den
  FROM g WHERE n * stt - st * st > 0
), d AS (
  SELECT event_type, day, n, den,
         (num - ((num % den + den) % den)) // den AS q,
         ((num % den + den) % den) AS r
  FROM s
)
SELECT event_type, CAST(day AS BIGINT) AS day, n,
       CAST(q * 1000 + (r * 1000) // den AS BIGINT) AS slope_milli
FROM d
"""


FANO_HOURS_MAX = 8192  # per-source observed hours: keeps n_hours*s2 < 2^58


def q_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source burstiness census: the Fano factor (variance/mean) of
    each event type's hourly count series — the overdispersion
    diagnostic that separates Poisson-ish steady traffic (F≈1) from
    bursty arrivals (F>>1).  Emitted milli-scaled as an EXACT integer:
    F = (n*S2 - S1²)/(n*S1) with num >= 0 (Cauchy-Schwarz) and den > 0,
    so DuckDB's truncating // and Spark's DIV agree; the milli digits
    come from the remainder (trend_slope's split-division trick) so
    num*1000 is never formed.

    Overflow budget: per-bucket counts < 2^16 (runtime raise in
    _hourly_counts) and n_hours <= 8192 (raise here) keep
    n*S2 < 2^13 * (2^13 * 2^32) = 2^58.  Shape: one map-side-combinable
    groupBy to hourly buckets, a second tiny groupBy to |sources| rows —
    raw events never shuffle."""
    hourly = _hourly_counts(spark, sf_dir)
    g = hourly.groupBy("source").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    ).select(
        "source",
        F.when(F.col("n_hours") <= FANO_HOURS_MAX, F.col("n_hours"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"q_fano_factor: > {FANO_HOURS_MAX} observed "
                        "hours breaks the overflow budget; shard the "
                        "series by season first: "
                    ),
                    F.col("n_hours").cast("string"),
                )
            ).cast("long")
        )
        .alias("n_hours"),
        "s1",
        "s2",
    )
    staged = g.select(
        "source",
        "n_hours",
        "s1",
        (F.col("n_hours") * F.col("s2") - F.col("s1") * F.col("s1")).alias(
            "num"
        ),
        (F.col("n_hours") * F.col("s1")).alias("den"),
    )
    return staged.select(
        "source",
        "n_hours",
        F.expr("(s1 * 1000) DIV n_hours").cast("long").alias("mean_milli"),
        (
            F.expr("num DIV den") * 1000
            + F.expr("((num % den) * 1000) DIV den")
        ).cast("long").alias("fano_milli"),
    )


_FANO_FACTOR = f"""
WITH hourly AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS tb,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(n) AS BIGINT) AS s1,
         CAST(sum(n * n) AS BIGINT) AS s2
  FROM hourly GROUP BY source
), s AS (
  SELECT source, n_hours, s1,
         n_hours * s2 - s1 * s1 AS num,
         n_hours * s1 AS den
  FROM g
)
SELECT source, n_hours,
       CAST((s1 * 1000) // n_hours AS BIGINT) AS mean_milli,
       CAST((num // den) * 1000 + ((num % den) * 1000) // den AS BIGINT)
         AS fano_milli
FROM s
"""


BURST_X = 3  # fire when this hour's count > 3x the trailing mean
BURST_MIN_PREV = 12  # need >= 12 trailing observed hours for a baseline


def q_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg-lite burst detection: flag hours whose event count
    exceeds BURST_X times the mean of the trailing 24 OBSERVED hours
    (gap hours carry no information here — an idle-then-spike pattern
    is exactly what the detector must fire on).  The comparison is the
    cross-multiplied integer form ``n * cnt_prev > BURST_X * sum_prev``
    so no division happens; a burst needs >= BURST_MIN_PREV trailing
    observations (cold-start hours can't fire).

    Shape: one map-side-combinable groupBy to hourly buckets, then a
    single ROWS-frame window per source over OBSERVED-hour rows —
    bounded by the calendar, never by raw traffic.  The frame is
    [24 PRECEDING, 1 PRECEDING]: identical semantics on both engines.
    Overflow: n < 2^16 (guard in _hourly_counts), so n*cnt_prev < 2^21.
    """
    hourly = _hourly_counts(spark, sf_dir)
    w = (
        Window.partitionBy("source")
        .orderBy("tb")
        .rowsBetween(-24, -1)
    )
    b = hourly.select(
        "source",
        F.col("tb").cast("long").alias("tb"),
        "n",
        F.sum("n").over(w).cast("long").alias("sum_prev"),
        F.count("n").over(w).cast("long").alias("cnt_prev"),
    )
    return b.where(
        (F.col("cnt_prev") >= BURST_MIN_PREV)
        & (F.col("n") * F.col("cnt_prev") > BURST_X * F.col("sum_prev"))
    )


_BURST_HOURS = f"""
WITH hourly AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS tb,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), b AS (
  SELECT source, tb, n,
         CAST(sum(n) OVER w AS BIGINT) AS sum_prev,
         CAST(count(n) OVER w AS BIGINT) AS cnt_prev
  FROM hourly
  WINDOW w AS (PARTITION BY source ORDER BY tb
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT source, tb, n, sum_prev, cnt_prev
FROM b
WHERE cnt_prev >= {BURST_MIN_PREV} AND n * cnt_prev > {BURST_X} * sum_prev
"""


CHG_MIN_HOURS = 8  # a split needs at least this many observations
CHG_HOURS_MAX = 8192  # keeps diff = s_l*n_r - s_r*n_l < 2^42 (exact double)


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint (first split) per event type's
    observed hourly count series: the k maximizing the between-segment
    variance-reduction gain (s_l*n_r - s_r*n_l)² / (n_l*n_r) — the
    level-shift detector behind retention-tier re-baselining.

    Float contract: the gain ORDERS candidates only; it is a
    deterministic IEEE double built from identical int64 inputs
    (|diff| < 2^42 < 2^53, so the cast is exact and dd*dd rounds
    identically on both engines).  The OUTPUT is float-free: the exact
    integer moment pair (diff_abs, den) plus the argmax position; ties
    break toward the earliest split (row_number ... gain DESC, rn ASC).

    Shape: one map-side-combinable groupBy to hourly buckets, one
    window sort per source over observed-hour rows (calendar-bounded),
    and a second same-partitioning window for the argmax — raw events
    never shuffle.  Overflow: n < 2^16 (_hourly_counts raise) and
    n_hours <= 8192 (raise here)."""
    hourly = _hourly_counts(spark, sf_dir)
    wo = Window.partitionBy("source").orderBy("tb")
    wp = Window.partitionBy("source")
    st = hourly.select(
        "source",
        F.col("tb").cast("long").alias("tb"),
        F.row_number().over(wo).cast("long").alias("rn"),
        F.sum("n")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum"),
        F.count("*").over(wp).cast("long").alias("nn0"),
        F.sum("n").over(wp).cast("long").alias("s"),
    ).select(
        "source",
        "tb",
        "rn",
        "cum",
        F.when(F.col("nn0") <= CHG_HOURS_MAX, F.col("nn0"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"q_changepoint: > {CHG_HOURS_MAX} observed "
                        "hours breaks the exact-double budget; shard "
                        "the series by season first: "
                    ),
                    F.col("nn0").cast("string"),
                )
            ).cast("long")
        )
        .alias("nn"),
        "s",
    )
    cand = st.where(
        (F.col("rn") < F.col("nn")) & (F.col("nn") >= CHG_MIN_HOURS)
    ).select(
        "source",
        "tb",
        "rn",
        "nn",
        (
            F.col("cum") * (F.col("nn") - F.col("rn"))
            - (F.col("s") - F.col("cum")) * F.col("rn")
        ).alias("diff"),
        (F.col("rn") * (F.col("nn") - F.col("rn"))).alias("den"),
    )
    gain = (
        F.col("diff").cast("double")
        * F.col("diff").cast("double")
        / F.col("den").cast("double")
    )
    rk = cand.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                gain.desc(), F.col("rn").asc()
            )
        ),
    )
    return rk.where(F.col("rnk") == 1).select(
        "source",
        F.col("nn").alias("n_hours"),
        F.col("tb").alias("split_tb"),
        F.col("rn").alias("left_hours"),
        (F.col("nn") - F.col("rn")).alias("right_hours"),
        F.abs(F.col("diff")).cast("long").alias("diff_abs"),
        F.col("den").cast("long").alias("den"),
    )


_CHANGEPOINT = f"""
WITH hourly AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS tb,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), st AS (
  SELECT source, tb,
         CAST(row_number() OVER wo AS BIGINT) AS rn,
         CAST(sum(n) OVER (PARTITION BY source ORDER BY tb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nn,
         CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS s
  FROM hourly
  WINDOW wo AS (PARTITION BY source ORDER BY tb)
), cand AS (
  SELECT source, tb, rn, nn,
         cum * (nn - rn) - (s - cum) * rn AS diff,
         rn * (nn - rn) AS den
  FROM st WHERE rn < nn AND nn >= {CHG_MIN_HOURS}
), rk AS (
  SELECT *,
         row_number() OVER (PARTITION BY source ORDER BY
           (CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE))
             / CAST(den AS DOUBLE) DESC, rn ASC) AS rnk
  FROM cand
)
SELECT source, nn AS n_hours, tb AS split_tb, rn AS left_hours,
       nn - rn AS right_hours, CAST(abs(diff) AS BIGINT) AS diff_abs,
       CAST(den AS BIGINT) AS den
FROM rk WHERE rnk = 1
"""


FORECAST_SEASON_H = 168  # seasonal-naive horizon: same hour last week


def q_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each hour's event
    count by the SAME HOUR LAST WEEK and score the prediction — count
    of scored hours, total/worst absolute error, and exact
    integer-milli MAE per source.  This is the capacity-planning
    baseline every anomaly detector / autoscaler is judged against
    (if a model can't beat "last week, same hour", it ships nothing).

    Shape: the hourly pre-aggregate joins to ITSELF on
    (source, tb - 168) — an equi-join on a calendar-bounded table
    (|sources| x |hours|), never on raw events; AQE broadcasts it at
    small SF and a sort-merge on the same key is the 100 TB plan.
    Hours with no prior-week observation are unscored (inner join) —
    a gap is "no forecast", not "forecast 0".  All arithmetic exact
    int64; MAE milli-digits via DIV (truncating on both engines;
    sum_abs_err >= 0 so trunc == floor).  The hourly aggregate is
    pinned so events is scanned ONCE — both join
    sides read the materialized table (zero parquet scans survive
    into the final plan, pinned)."""
    h = pin(_hourly_counts(spark, sf_dir))
    prev = h.select(
        "source",
        (F.col("tb") + FORECAST_SEASON_H).alias("tb"),
        F.col("n").alias("n_pred"),
    )
    j = h.join(prev, ["source", "tb"])
    g = j.select(
        "source", F.abs(F.col("n") - F.col("n_pred")).alias("abs_err")
    ).groupBy("source").agg(
        F.count("*").cast("long").alias("n_scored"),
        F.sum("abs_err").cast("long").alias("sum_abs_err"),
        F.max("abs_err").cast("long").alias("worst_abs_err"),
    )
    return g.select(
        "source",
        "n_scored",
        "sum_abs_err",
        "worst_abs_err",
        F.expr("(sum_abs_err * 1000) DIV n_scored")
        .cast("long")
        .alias("mae_milli"),
    )


_FORECAST_BASELINE = f"""
WITH hourly AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) // 3600 AS tb,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), j AS (
  SELECT h.source, abs(h.n - p.n) AS abs_err
  FROM hourly h JOIN hourly p
    ON h.source = p.source AND p.tb = h.tb - {FORECAST_SEASON_H}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_scored,
       CAST(sum(abs_err) AS BIGINT) AS sum_abs_err,
       CAST(max(abs_err) AS BIGINT) AS worst_abs_err,
       CAST((sum(abs_err) * 1000) // count(*) AS BIGINT) AS mae_milli
FROM j GROUP BY source
"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit census of event values per type — the
    classic fabricated-/truncated-data audit (organic magnitudes lean
    on digit 1; uniform synthetics don't).

    The digit comes from integer-rendering floor(|value| * 10^6) —
    BIGINT-to-string is locale-free and identical in both engines, so
    no log10/float path exists anywhere.  Zero-valued events carry no
    leading digit and are excluded.  One map-side-combinable groupBy;
    the share window runs over <= 9 rows per type."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        F.floor(F.abs(F.col("value")) * F.lit(1000000.0))
        .cast("long")
        .alias("n6"),
    ).where(F.col("n6") > 0)
    cnt = d.select(
        "event_type",
        F.substring(F.col("n6").cast("string"), 1, 1)
        .cast("long")
        .alias("digit"),
    ).groupBy("event_type", "digit").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("event_type")
    return cnt.select(
        "event_type",
        "digit",
        "n",
        F.expr("n * 1000").alias("n1000"),
        F.sum("n").over(w).cast("long").alias("tot"),
    ).select(
        "event_type",
        "digit",
        "n",
        F.expr("n1000 DIV tot").cast("long").alias("permille"),
    )


_BENFORD = """
WITH d AS (
  SELECT event_type,
         CAST(floor(abs(value) * 1000000) AS BIGINT) AS n6
  FROM events
), nz AS (
  SELECT event_type,
         CAST(substr(CAST(n6 AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM d WHERE n6 > 0
), cnt AS (
  SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
  FROM nz GROUP BY 1, 2
)
SELECT event_type, digit, n,
       CAST((n * 1000) // (sum(n) OVER (PARTITION BY event_type))
            AS BIGINT) AS permille
FROM cnt
"""


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) maximum drawdown + record-high census —
    the risk/monitoring pair every metric dashboard derives from a
    running max ("how far below its day peak did this metric fall, and
    how many times did it set a new high?").

    Values render as micro-units via floor(value * 1e6) (the q_benford
    BIGINT idiom — identical double multiply + floor on both engines).
    The running max uses ROWS UNBOUNDED PRECEDING AND 1 PRECEDING
    ordered by (second, event_id) — NEVER a FOLLOWING frame (the
    O(n^2) re-scan class CLAUDE.md pins); a row is a record high when
    it strictly exceeds every earlier row's value, and its drawdown is
    prev_max - v clamped at 0.  Windows partition by (type, day) — the
    q_trend_slope day-bounded convention, so one pathologically hot
    type still sorts at most a day of events per task."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) AS LONG) DIV 86400").alias("day"),
        F.expr("CAST(unix_timestamp(ts) AS LONG)").alias("sec"),
        F.col("event_id").cast("long").alias("event_id"),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v6"),
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = base.select(
        "event_type",
        "day",
        "v6",
        F.max("v6").over(w).alias("pm"),
    )
    return pre.groupBy("event_type", "day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.col("pm").isNull() | (F.col("v6") > F.col("pm")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_record_highs"),
        F.max(
            F.when(F.col("pm").isNull(), F.lit(0).cast("long")).otherwise(
                F.greatest(
                    F.col("pm") - F.col("v6"), F.lit(0).cast("long")
                )
            )
        )
        .cast("long")
        .alias("max_drawdown_u6"),
    ).select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "n_events",
        "n_record_highs",
        "max_drawdown_u6",
    )


_MAX_DRAWDOWN = """
WITH ev AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(event_id AS BIGINT) AS event_id,
         CAST(floor(value * 1000000) AS BIGINT) AS v6
  FROM events
), p AS (
  SELECT event_type, day, v6,
         max(v6) OVER (PARTITION BY event_type, day ORDER BY sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pm
  FROM ev
)
SELECT event_type,
       CAST(day AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN pm IS NULL OR v6 > pm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_record_highs,
       CAST(max(CASE WHEN pm IS NULL THEN 0
                     ELSE greatest(pm - v6, 0) END)
            AS BIGINT) AS max_drawdown_u6
FROM p GROUP BY 1, 2
"""


def q_peak_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak sliding-60-second event rate per (event_type, day) — the
    exact 'peak QPS' SLA census (q_burst_hours flags anomalous HOURS
    against a trailing baseline; this finds the worst minute-scale
    spike inside each day, the number capacity planning and rate-limit
    sizing actually need).  Windows are anchored at observed seconds
    ([t-59, t] for each event second t), which provably contains the
    maximum over all real-line windows.

    Scale shape: raw events collapse FIRST to per-(type, day, second)
    counts (map-side-combinable; <= 86400 rows per type-day however
    hot the traffic), the sliding sum is ONE bounded RANGE frame
    [59 PRECEDING, CURRENT ROW] over those rows (two-pointer O(n) per
    partition — never the O(n^2) FOLLOWING shape, CLAUDE.md), and the
    per-day peak is a map-side-combinable max of the argmax encoding
    roll * 2^20 + (2^20-1 - sec_in_day) — deterministic earliest-
    second tie-break without a second window (the q_m4_decimate
    idiom; sec_in_day < 86400 < 2^20, roll < 2^43 by construction
    since a day holds < 2^20 seconds each counted < 2^23 times)."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    s = (
        ev.select(
            "event_type",
            F.expr("unix_timestamp(ts) DIV 86400").cast("long").alias("day"),
            sec.alias("sec"),
        )
        .groupBy("event_type", "day", "sec")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("sec")
        .rangeBetween(-59, Window.currentRow)
    )
    r = s.select(
        "event_type",
        "day",
        "sec",
        F.sum("cnt").over(w).cast("long").alias("roll"),
    )
    enc = r.groupBy("event_type", "day").agg(
        F.max(
            F.col("roll") * F.lit(1048576)
            + (F.lit(1048575) - F.pmod(F.col("sec"), F.lit(86400)))
        ).alias("e")
    )
    return enc.select(
        "event_type",
        "day",
        F.expr("e DIV 1048576").cast("long").alias("peak_60s"),
        (F.lit(1048575) - F.pmod(F.col("e"), F.lit(1048576)))
        .cast("long")
        .alias("peak_sec"),
    )


_PEAK_RATE = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
), s AS (
  SELECT event_type, sec // 86400 AS day, sec,
         CAST(count(*) AS BIGINT) AS cnt
  FROM e GROUP BY 1, 2, 3
), r AS (
  SELECT event_type, day, sec,
         CAST(sum(cnt) OVER (PARTITION BY event_type, day ORDER BY sec
              RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS roll
  FROM s
), enc AS (
  SELECT event_type, day,
         max(roll * 1048576 + (1048575 - (sec % 86400))) AS e
  FROM r GROUP BY 1, 2
)
SELECT event_type, CAST(day AS BIGINT) AS day,
       CAST(e // 1048576 AS BIGINT) AS peak_60s,
       CAST(1048575 - (e % 1048576) AS BIGINT) AS peak_sec
FROM enc
"""
