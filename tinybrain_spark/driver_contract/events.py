"""Event analytics and graph queries on `events`.

Grouping sets, top-k, funnels, cohorts, sessions, journeys and Markov
transitions, RFM segments, streaks, set operations, interval joins,
attribution, distinct-count sketches (KMV, bitmaps), experiment and
basket readouts, PageRank and triangle counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..prefix import running_mins
from ..session import load_table, pin
from .sequences import DAY_US, WEEK_S, _KMV_K


def q_rollup_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP over (event_type) — the metrics-reporting
    shape SURVEY.md §2.4 plans for per-tier rollup reports."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).cast("long").alias("value_c"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "n_events",
            "value_c",
        )
    )


_ROLLUP_METRICS = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM events GROUP BY ROLLUP(event_type)
"""


def q_cube_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day): all four grouping sets in
    one pass — the full grouping-sets surface next to q_rollup_metrics'
    hierarchical ROLLUP."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("long").alias("hod"), "value"
    )
    return (
        ev.cube("event_type", "hod")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).cast("long").alias("value_c"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("hod"), F.lit(-1)).alias("hod"),
            "n_events",
            "value_c",
        )
    )


_CUBE_METRICS = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       CAST(coalesce(hour(ts), -1) AS BIGINT) AS hod,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM events GROUP BY CUBE(event_type, hour(ts))
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch under the value-hash oracle (kmv.py): per
    event_type, the k=64 smallest distinct hashes of (user, day) visit
    pairs, the resulting cardinality estimate, and the exact count next
    to it.  Every output is deterministic integer math (md5 hashes,
    truncating division with the subtract-pmod trick), so DuckDB
    recomputes the sketch bit-for-bit — the same evidence class as the
    bloom/CMS sketches, but for distinct counting with SET-OPERATION
    support (see q_kmv_overlap)."""
    from ..kmv import build_kmv, kmv_estimate

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("_"),
            (F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400)
            .cast("long")
            .cast("string"),
        ).alias("visit"),
    )
    sk = build_kmv(ev, ["event_type"], "visit", k=_KMV_K)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("visit").cast("long").alias("n_exact")
    )
    return (
        sk.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            F.size("kmin").cast("long").alias("n_kmin"),
            F.element_at(
                F.col("kmin"), F.least(F.lit(_KMV_K), F.size("kmin"))
            ).cast("long").alias("t_hash"),
            kmv_estimate(F.col("kmin"), _KMV_K).cast("long").alias("est"),
            "n_exact",
        )
    )


_KMV_DISTINCT = f"""
WITH v AS (
  SELECT DISTINCT event_type,
         CAST(user_id AS VARCHAR) || '_' ||
         CAST(CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT)
              AS VARCHAR) AS visit
  FROM events
), h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(visit), 1, 8)) AS BIGINT) AS h
  FROM v
), r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_h
  FROM h
), s AS (
  SELECT event_type,
         count(*) AS n_kmin,
         max(h) AS t_hash,
         min(n_h) AS n_h
  FROM r WHERE rn <= {_KMV_K} GROUP BY event_type
), x AS (
  SELECT event_type, count(DISTINCT visit) AS n_exact FROM v GROUP BY 1
)
SELECT s.event_type,
       CAST(s.n_kmin AS BIGINT) AS n_kmin,
       CAST(s.t_hash AS BIGINT) AS t_hash,
       CAST(CASE WHEN s.n_h < {_KMV_K} THEN s.n_kmin
            ELSE {_KMV_K - 1} * (4294967296 // s.t_hash) END AS BIGINT)
         AS est,
       CAST(x.n_exact AS BIGINT) AS n_exact
FROM s JOIN x USING (event_type)
"""


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation estimates from KMV sketches — what HLL cannot do:
    for every event-type pair, estimate the union and INTERSECTION of
    their user sets from two 64-hash sketches alone (kmv_merge keeps
    the union's k-min in-row; members of it seen in BOTH sketches are
    real shared users), with the exact overlap next to it.  Pair
    analytics touch only sketch rows — at 100 TB the corpus is hashed
    once per source and every pairwise comparison is in-row array math
    over 64-length arrays."""
    from ..kmv import build_kmv, kmv_union_intersect

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    sk = build_kmv(ev, ["event_type"], "u", k=_KMV_K)
    a = sk.select(F.col("event_type").alias("ta"), F.col("kmin").alias("ka"))
    b = sk.select(F.col("event_type").alias("tb"), F.col("kmin").alias("kb"))
    pairs = a.join(b, F.col("ta") < F.col("tb"))
    est = kmv_union_intersect(pairs, "ka", "kb", _KMV_K)
    du = ev.distinct()
    ex = (
        du.select(F.col("event_type").alias("ta"), "u")
        .join(du.select(F.col("event_type").alias("tb"), "u"), "u")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").cast("long").alias("n_users_both"))
    )
    return est.join(F.broadcast(ex), ["ta", "tb"], "left").select(
        "ta",
        "tb",
        F.col("union_est"),
        F.col("n_common"),
        F.col("intersect_est"),
        F.coalesce(F.col("n_users_both"), F.lit(0).cast("long")).alias(
            "n_users_both"
        ),
    )


_KMV_OVERLAP = f"""
WITH u AS (
  SELECT DISTINCT event_type, user_id FROM events
), h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM u
), r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
), sk AS (
  SELECT event_type, h FROM r WHERE rn <= {_KMV_K}
), tt AS (SELECT DISTINCT event_type FROM events
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM tt a JOIN tt b ON a.event_type < b.event_type
), uni AS (
  SELECT p.ta, p.tb, s.h
  FROM pairs p JOIN sk s ON s.event_type IN (p.ta, p.tb)
  GROUP BY 1, 2, 3
), m AS (
  SELECT ta, tb, h,
         row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY ta, tb) AS n_all
  FROM uni
), mk AS (
  SELECT ta, tb, h, n_all FROM m WHERE rn <= {_KMV_K}
), agg AS (
  SELECT ta, tb, count(*) AS sz, max(h) AS t, min(n_all) AS n_all
  FROM mk GROUP BY 1, 2
), common AS (
  SELECT mk.ta, mk.tb, count(*) AS n_common
  FROM mk
  JOIN sk sa ON sa.event_type = mk.ta AND sa.h = mk.h
  JOIN sk sb ON sb.event_type = mk.tb AND sb.h = mk.h
  GROUP BY 1, 2
), ex AS (
  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_users_both
  FROM u a JOIN u b ON a.user_id = b.user_id
                   AND a.event_type < b.event_type
  GROUP BY 1, 2
), est AS (
  SELECT agg.ta, agg.tb,
         CAST(CASE WHEN agg.n_all < {_KMV_K} THEN agg.sz
              ELSE {_KMV_K - 1} * (4294967296 // agg.t) END AS BIGINT)
           AS union_est,
         CAST(COALESCE(common.n_common, 0) AS BIGINT) AS n_common
  FROM agg LEFT JOIN common USING (ta, tb)
)
SELECT est.ta, est.tb, est.union_est, est.n_common,
       CAST((est.n_common * est.union_est) // {_KMV_K} AS BIGINT)
         AS intersect_est,
       CAST(COALESCE(ex.n_users_both, 0) AS BIGINT) AS n_users_both
FROM est LEFT JOIN ex USING (ta, tb)
"""


DECAY_HORIZON_D = 30  # ages beyond 30 days weigh 0 (weights 2^0..2^30)
DECAY_TOPK = 5
DECAY_SALT = 32


def q_decay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed activity leaders: each user's events weigh
    2^(HORIZON - age_days) — an exact integer exponential decay with a
    one-day half-life (the scale factor 2^HORIZON cancels in every
    comparison) — and the top 5 users per event type by decayed score
    survive.  The recency-weighted heavy-hitter query behind trending
    dashboards, float-free so both engines agree exactly.

    Scale shape: the reference day is a broadcast 1-row aggregate
    folded into the plan (no driver-side action); scores reduce in ONE
    map-side-combinable groupBy; and the per-type top-k NEVER sorts a
    type's whole user list in one task — a salted partial top-k
    (rank within (type, user%32), keep 5) feeds the final rank over
    <= 32*5 aggregated rows per type.  Ties break (score desc,
    user asc) — total order, same on both engines."""
    day_expr = f"unix_micros(cast(ts as timestamp)) DIV {DAY_US}"
    ref = load_table(spark, sf_dir, "events").agg(
        F.max(F.expr(day_expr)).alias("ref_day")
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("source"),
        "user_id",
        F.expr(day_expr).alias("day"),
    )
    aged = ev.join(F.broadcast(ref)).withColumn(
        "age", F.col("ref_day") - F.col("day")
    )
    scored = aged.select(
        "source",
        "user_id",
        F.when(
            F.col("age") <= DECAY_HORIZON_D,
            F.expr(
                f"shiftleft(1L, cast({DECAY_HORIZON_D} - age as int))"
            ),
        )
        .otherwise(F.lit(0))
        .alias("w"),
    ).groupBy("source", "user_id").agg(
        F.sum("w").cast("long").alias("decayed")
    )
    w_salt = Window.partitionBy(
        "source", F.pmod(F.col("user_id"), F.lit(DECAY_SALT))
    ).orderBy(F.col("decayed").desc(), F.col("user_id").asc())
    partial = scored.withColumn(
        "rs", F.row_number().over(w_salt)
    ).where(F.col("rs") <= DECAY_TOPK)
    w_final = Window.partitionBy("source").orderBy(
        F.col("decayed").desc(), F.col("user_id").asc()
    )
    return (
        partial.withColumn("rn", F.row_number().over(w_final))
        .where(F.col("rn") <= DECAY_TOPK)
        .select(
            "source",
            F.col("rn").cast("long").alias("rn"),
            F.col("user_id").cast("long").alias("user_id"),
            "decayed",
        )
    )


_DECAY_TOPK = f"""
WITH ref AS (
  SELECT max(epoch_us(ts) // {DAY_US}) AS ref_day FROM events
), scored AS (
  SELECT event_type AS source, user_id,
         sum(CASE WHEN ref_day - (epoch_us(ts) // {DAY_US})
                       <= {DECAY_HORIZON_D}
                  THEN 1::BIGINT << CAST({DECAY_HORIZON_D}
                       - (ref_day - (epoch_us(ts) // {DAY_US})) AS INT)
                  ELSE 0 END) AS decayed
  FROM events CROSS JOIN ref
  GROUP BY 1, 2
), ranked AS (
  SELECT source, user_id, decayed,
         row_number() OVER (
           PARTITION BY source
           ORDER BY decayed DESC, user_id ASC) AS rn
  FROM scored
)
SELECT source, CAST(rn AS BIGINT) AS rn,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(decayed AS BIGINT) AS decayed
FROM ranked WHERE rn <= {DECAY_TOPK}
"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    (prev_event_type -> next_event_type) pair, the transition count and
    integer permille probability — the behavioral model behind
    next-action prediction and anomaly scoring ('error after purchase
    jumped 3x').

    Shape (r05, ADVICE r04 #4): the lag window partitions by
    (user, DAY) — never a user's full history — so a pathologically
    hot user costs one task per day, not one task forever.  Cross-day
    transitions come from the q_interarrival stitch: per (user, day)
    the deterministic FIRST and LAST events (struct-min/max over
    (us, event_id) — unique, so no tie exists), then a lag over the
    tiny days-per-user table pairs each day's first event with the
    previous active day's last.  Edges are local, so the stitched
    union is the SAME transition multiset as a full-history lag (the
    oracle still computes the naive full-user window).  Then one
    map-side-combinable groupBy onto the |types|^2-row transition
    table; row totals come from a full-frame sum window over THAT tiny
    table (|types| rows per partition — a second scan-and-aggregate
    branch would cost more than it saves).  Permille =
    1000*n DIV row_total: truncating division, identical on both
    engines."""
    # r06: fan out on user_id — the in-day lag window's leading
    # partition key, so the fan-out exchange replaces the window's and
    # the timestamp projection parallelizes (2.22 s -> 1.18 s at sf1.0)
    ev = load_table(
        spark, sf_dir, "events", fanout_on=["user_id"],
        fanout_min_rows=300_000,
    ).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.col("event_type").alias("next_type"),
    ).withColumn("day", F.expr("us DIV 86400000000"))
    w = Window.partitionBy("user_id", "day").orderBy("us", "event_id")
    in_day = (
        ev.withColumn("prev_type", F.lag("next_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .select("prev_type", "next_type")
    )
    bounds = ev.groupBy("user_id", "day").agg(
        F.min(F.struct("us", "event_id", "next_type")).alias("first"),
        F.max(F.struct("us", "event_id", "next_type")).alias("last"),
    )
    w_days = Window.partitionBy("user_id").orderBy("day")
    stitch = (
        bounds.withColumn(
            "prev_type", F.lag("last.next_type").over(w_days)
        )
        .where(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("first.next_type").alias("next_type"))
    )
    trans = (
        in_day.unionByName(stitch)
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w_row = (
        Window.partitionBy("prev_type")
        .orderBy("next_type")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.sum("n").over(w_row).alias("_tot"),
    ).select(
        "prev_type",
        "next_type",
        "n",
        F.expr("1000 * n DIV _tot").cast("long").alias("permille"),
    )


_MARKOV_TRANSITIONS = """
WITH t AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS prev_type,
         event_type AS next_type
  FROM events
), c AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       CAST(1000 * n // sum(n) OVER (PARTITION BY prev_type)
            AS BIGINT) AS permille
FROM c
"""


def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join end state under the oracle: purchases and
    clicks replay through ``streaming.run_attribution_stream`` (a
    REAL watermarked stream-stream inner join with the event-time
    range constraint bounding both sides' state) and the emitted
    (purchase_id, click_id) pair set must equal the batch range join
    the DuckDB oracle computes — the batch-equivalence invariant, same
    evidence pattern as q_stream_cagg_equiv.  The replay drains in one
    availableNow batch, the deterministic mode (the multi-batch
    watermark path is pinned separately in test_streaming.py with
    forced file modtimes)."""
    import tempfile

    from ..streaming import drain, run_attribution_stream

    with tempfile.TemporaryDirectory(
        prefix="tb_attr_", ignore_cleanup_errors=True
    ) as work:
        src = f"{work}/events.parquet"
        (
            load_table(spark, sf_dir, "events")
            .where(F.col("event_type").isin("purchase", "click"))
            .repartition(4)
            .write.parquet(src)
        )
        drain(
            run_attribution_stream(spark, src, f"{work}/out", f"{work}/ckpt"),
            "stream",
        )
        pairs = spark.read.parquet(f"{work}/out").select(
            F.col("purchase_id").cast("long").alias("purchase_id"),
            F.col("click_id").cast("long").alias("click_id"),
        )
        return pin(pairs)


_STREAM_ATTRIBUTION = """
SELECT CAST(p.event_id AS BIGINT) AS purchase_id,
       CAST(c.event_id AS BIGINT) AS click_id
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 3600 SECONDS
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per purchasing user, quartile scores
    for Recency (days since last purchase), Frequency (purchase count)
    and Monetary (centi-value total), and the classic 3-digit segment
    code r*100 + f*10 + m.  Quartiles are RANK-based over total orders
    (ties broken by user_id), so the verdict is exact — no float CDF.

    Scale shape: one groupBy(user) over the pushed-down purchase scan
    reduces events to a user-stats table; each quartile then needs a
    GLOBAL rank over that table, which at 10^9 users must never be a
    bare Window.orderBy — all three ride ranking.global_rank (range
    partition + driver-cumulated offsets + bounded in-partition sort,
    zero unpartitioned windows, pinned).  The user count folds in as a
    broadcast 1-row aggregate; quartile = (4*(rank-1)) DIV n + 1."""
    from ..ranking import global_rank

    day_expr = f"unix_micros(cast(ts as timestamp)) DIV {DAY_US}"
    purch = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    ref = purch.agg(F.max(F.expr(day_expr)).alias("ref_day"))
    stats = (
        purch.select(
            "user_id",
            F.expr(day_expr).alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("cv"),
        )
        .groupBy("user_id")
        .agg(
            F.max("day").alias("last_day"),
            F.count("*").cast("long").alias("freq"),
            F.sum("cv").cast("long").alias("monetary"),
        )
        .join(F.broadcast(ref))
        .select(
            "user_id",
            (F.col("ref_day") - F.col("last_day")).alias("recency"),
            "freq",
            "monetary",
        )
    )
    # r06: the three global ranks are independent of each other, but
    # chaining them serialized three repartitionByRange+checkpoint+
    # collect sequences.  Checkpoint the user-stats table once and run
    # the three ranks from a small thread pool (guide §2.6 — actions
    # are only sequential because driver code calls them
    # sequentially); each emits (user_id, rank) and the user-keyed
    # joins reassemble — same ranks, same quartiles, ~40% less wall.
    from concurrent.futures import ThreadPoolExecutor

    stats_c = pin(stats)

    def _rank(metric: str, out: str):
        return global_rank(
            stats_c.select("user_id", metric),
            [F.col(metric), F.col("user_id")],
            out,
        ).select("user_id", out)

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_rr = pool.submit(_rank, "recency", "_rr")
        f_rf = pool.submit(_rank, "freq", "_rf")
        f_rm = pool.submit(_rank, "monetary", "_rm")
        ranked = (
            stats_c.select("user_id")
            .join(f_rr.result(), "user_id")
            .join(f_rf.result(), "user_id")
            .join(f_rm.result(), "user_id")
        )
    # count over the checkpointed stats rows — never a second pass
    # over the purchase scan just to learn |users|
    n_u = stats_c.agg(F.count("*").cast("long").alias("_nu"))
    q = lambda c: f"(4 * ({c} - 1)) DIV _nu + 1"  # noqa: E731
    out = ranked.join(F.broadcast(n_u)).selectExpr(
        "user_id",
        f"cast({q('_rr')} as bigint) as r_q",
        f"cast({q('_rf')} as bigint) as f_q",
        f"cast({q('_rm')} as bigint) as m_q",
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "r_q",
        "f_q",
        "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("long")
        .alias("segment"),
    )


_RFM_SEGMENTS = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) // {DAY_US} AS day,
         CAST(floor(value * 100) AS BIGINT) AS cv
  FROM events WHERE event_type = 'purchase'
), ref AS (
  SELECT max(day) AS ref_day FROM p
), stats AS (
  SELECT user_id,
         (SELECT ref_day FROM ref) - max(day) AS recency,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(cv) AS BIGINT) AS monetary
  FROM p GROUP BY user_id
), ranked AS (
  SELECT user_id,
         row_number() OVER (ORDER BY recency, user_id) AS rr,
         row_number() OVER (ORDER BY freq, user_id) AS rf,
         row_number() OVER (ORDER BY monetary, user_id) AS rm,
         count(*) OVER () AS nu
  FROM stats
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST((4 * (rr - 1)) // nu + 1 AS BIGINT) AS r_q,
       CAST((4 * (rf - 1)) // nu + 1 AS BIGINT) AS f_q,
       CAST((4 * (rm - 1)) // nu + 1 AS BIGINT) AS m_q,
       CAST(((4 * (rr - 1)) // nu + 1) * 100
            + ((4 * (rf - 1)) // nu + 1) * 10
            + ((4 * (rm - 1)) // nu + 1) AS BIGINT) AS segment
FROM ranked
"""


PR_SCALE = 1_000_000  # fixed-point rank unit
PR_ITERS = 3
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an integer ratio


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the user-interaction graph — the
    iterative-dataflow exemplar (power iteration as repeated
    join+groupBy, the same distributed shape GraphX/Pregel lower to).

    Graph construction is LINEAR, never quadratic: within each
    (event_type, day) stream ordered by (ts, event_id), each event
    emits one directed edge from the PREVIOUS event's user to its own
    (a 'follows-in-stream' interaction graph, |edges| = |events| -
    |non-empty streams|; contrast co-occurrence pairing, which fans
    out C(users_per_bucket, 2) per bucket).  Multi-edges keep their
    multiplicity (repeat interactions weigh more); self-loops stay
    (deterministic, same on both engines).

    The power iteration runs entirely in exact int64 fixed-point:
    r_0 = 10^6 per node, and each round
        r = 15*SCALE DIV 100  +  85 * (sum over in-edges of
            r_src DIV out_deg_src) DIV 100
    — truncating integer division applied identically by Spark DIV
    and DuckDB // on these non-negative operands, so all three
    unrolled iterations match the oracle bit-for-bit (no float
    tolerance, no convergence threshold).  Dangling nodes keep the
    teleport term only (the standard simple variant; their outflow
    leak is documented, not redistributed).

    Scale shape: edges materialize once behind a pin (the
    iteration reuses them without recomputing the lag windows), each
    round is one join keyed on src (both sides hash-partitioned on
    the same key — exchange reuse) + one groupBy(dst) of per-edge
    contributions, 3 rounds = a bounded chain exactly like
    clusters.py's star-CC.  Ranks stay < n*SCALE, far inside int64."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("stream"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        "user_id",
    ).withColumn("day", F.expr(f"us DIV {DAY_US}"))
    w = Window.partitionBy("stream", "day").orderBy("us", "event_id")
    edges = pin(  # pin once; 3 rounds reuse without recompute
        ev.withColumn("src", F.lag("user_id").over(w))
        .where(F.col("src").isNotNull())
        .select("src", F.col("user_id").alias("dst"))
    )
    # r06: the node table (union+distinct, 2 exchanges) and the degree
    # aggregate were un-pinned subtrees re-evaluated by EVERY power
    # round (3x each).  Fold the out-degree INTO a checkpointed node
    # table once — each round is then ONE join (edges x ranks-with-d)
    # + one groupBy + the teleport left join, instead of two joins
    # plus two recomputed subtrees.  d is NULL only for dangling
    # nodes, which by construction never match an edge src, so
    # r DIV d never sees the NULL.
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    nodes = pin(  # (u, d) pinned once; 3 rounds reuse it
        edges.select(F.col("src").alias("u"))
        .union(edges.select(F.col("dst").alias("u")))
        .distinct()
        .join(deg.withColumnRenamed("src", "u"), "u", "left")
    )
    ranks = nodes.select("u", "d", F.lit(PR_SCALE).cast("long").alias("r"))
    teleport = (15 * PR_SCALE) // 100
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(
                ranks.select(F.col("u").alias("src"), "d", "r"), "src"
            )
            .select("dst", F.expr("r DIV d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("cin"))
        )
        ranks = nodes.join(
            contrib.withColumnRenamed("dst", "u"), "u", "left"
        ).select(
            "u",
            "d",
            (
                F.lit(teleport)
                + F.expr(
                    f"{PR_DAMP_NUM} * coalesce(cin, 0L)"
                    f" DIV {PR_DAMP_DEN}"
                )
            ).cast("long").alias("r"),
        )
    return ranks.select(
        F.col("u").cast("long").alias("user_id"),
        F.col("r").cast("long").alias("rank_fp"),
    )


def _pagerank_sql() -> str:
    teleport = (15 * PR_SCALE) // 100
    it = f"""
SELECT n.u,
       {teleport} + {PR_DAMP_NUM} * COALESCE(c.cin, 0) // {PR_DAMP_DEN}
         AS r
FROM nodes n LEFT JOIN (
  SELECT e.dst, sum(rPREV.r // deg.d) AS cin
  FROM edges e
  JOIN rPREV ON rPREV.u = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
) c ON c.dst = n.u
"""
    iters = "".join(
        f", r{k} AS ({it.replace('rPREV', f'r{k - 1}')})"
        for k in range(1, PR_ITERS + 1)
    )
    return f"""
WITH e0 AS (
  SELECT event_type AS stream,
         epoch_us(ts) // {DAY_US} AS day,
         epoch_us(ts) AS us, event_id, user_id
  FROM events
), edges AS (
  SELECT src, dst FROM (
    SELECT lag(user_id) OVER (
             PARTITION BY stream, day ORDER BY us, event_id) AS src,
           user_id AS dst
    FROM e0
  ) WHERE src IS NOT NULL
), deg AS (
  SELECT src, count(*) AS d FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT u FROM (
    SELECT src AS u FROM edges UNION SELECT dst FROM edges
  )
), r0 AS (
  SELECT u, {PR_SCALE} AS r FROM nodes
){iters}
SELECT CAST(u AS BIGINT) AS user_id,
       CAST(r AS BIGINT) AS rank_fp
FROM r{PR_ITERS}
"""


FUNNEL_STEPS = ("view", "click", "purchase")


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view -> click -> purchase): how many
    users complete each prefix of the step sequence IN ORDER — step k
    counts users with a step-k event strictly after their earliest
    qualifying step-(k-1) event.  The classic event-analytics funnel,
    computed as k chained (groupBy user -> min ts -> join) passes:
    every shuffle keys on user_id (exchange reuse across the chain),
    every joined row is one AGGREGATED (user, first_ts) pair, no
    window or sort anywhere — the shape that survives 10^9 users.
    Earliest-first semantics (min of later-step events after the
    prior step's minimum) is the standard strict-order funnel; ties
    on exact-equal timestamps are excluded by the strict >, applied
    identically by both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    stage = ev.where(
        F.col("event_type") == FUNNEL_STEPS[0]
    ).groupBy("user_id").agg(F.min("ts").alias("t"))
    counts = [stage.agg(F.count("*").cast("long").alias("n_users"))]
    for step in FUNNEL_STEPS[1:]:
        stage = (
            ev.where(F.col("event_type") == step)
            .join(stage, "user_id")
            .where(F.col("ts") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        counts.append(
            stage.agg(F.count("*").cast("long").alias("n_users"))
        )
    out = None
    for i, (name, c) in enumerate(zip(FUNNEL_STEPS, counts), start=1):
        row = c.select(
            F.lit(i).cast("long").alias("step"),
            F.lit(name).alias("step_name"),
            "n_users",
        )
        out = row if out is None else out.unionByName(row)
    return out


_FUNNEL_STEPS = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
)
SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
UNION ALL
SELECT CAST(2 AS BIGINT), 'click',
       CAST((SELECT count(*) FROM s2) AS BIGINT)
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase',
       CAST((SELECT count(*) FROM s3) AS BIGINT)
"""


COHORT_VALUE_FLOOR = 18.0  # qualifying-purchase floor (see docstring)


def q_funnel_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency profile for the completed funnel: per hop
    (view->click, click->purchase, view->purchase) over users who
    completed all three steps in strict order, the count and the
    min / max / floored-mean latency in integer seconds — the 'how
    long does conversion take' follow-up every funnel dashboard asks.

    Shape: the same user-keyed groupBy-min-join chain as
    q_funnel_steps (every shuffle on user_id), then one 3-row
    aggregate; latencies stay in int64 microseconds until the final
    DIV so both engines floor identically."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_type",
    )
    s1 = ev.where(F.col("event_type") == FUNNEL_STEPS[0]).groupBy(
        "user_id"
    ).agg(F.min("us").alias("t1"))
    s2 = (
        ev.where(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"), F.first("t1").alias("t1"))
    )
    s3 = (
        ev.where(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(
            F.min("us").alias("t3"),
            F.first("t1").alias("t1"),
            F.first("t2").alias("t2"),
        )
    )
    hops = s3.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("view_to_click").alias("hop"),
                    (F.col("t2") - F.col("t1")).alias("d"),
                ),
                F.struct(
                    F.lit("click_to_purchase").alias("hop"),
                    (F.col("t3") - F.col("t2")).alias("d"),
                ),
                F.struct(
                    F.lit("view_to_purchase").alias("hop"),
                    (F.col("t3") - F.col("t1")).alias("d"),
                ),
            )
        ).alias("h")
    ).select("h.hop", "h.d")
    return hops.groupBy("hop").agg(
        F.count("*").cast("long").alias("n_users"),
        F.expr("min(d) DIV 1000000").cast("long").alias("min_s"),
        F.expr("max(d) DIV 1000000").cast("long").alias("max_s"),
        F.expr("(sum(d) DIV count(*)) DIV 1000000")
        .cast("long")
        .alias("avg_s"),
    )


_FUNNEL_TIMES = """
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t2, min(s1.t1) AS t1
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1 GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t3,
         min(s2.t1) AS t1, min(s2.t2) AS t2
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2 GROUP BY 1
), hops AS (
  SELECT 'view_to_click' AS hop, t2 - t1 AS d FROM s3
  UNION ALL
  SELECT 'click_to_purchase', t3 - t2 FROM s3
  UNION ALL
  SELECT 'view_to_purchase', t3 - t1 FROM s3
)
SELECT hop,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(min(d) // 1000000 AS BIGINT) AS min_s,
       CAST(max(d) // 1000000 AS BIGINT) AS max_s,
       CAST((sum(d) // count(*)) // 1000000 AS BIGINT) AS avg_s
FROM hops GROUP BY hop
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted again in every later week they return — the
    product-analytics triangle behind every retention dashboard —
    here over QUALIFYING activity (purchases above a value floor, so
    the triangle actually decays instead of counting every user every
    week).  Week buckets are plain integer epoch DIV 604800 (no
    engine's week-start convention involved); the value floor is a
    pure comparison on the stored double (no float arithmetic, so
    both engines select the identical rows).

    Shape: one groupBy(user) for cohort assignment, one
    groupBy(user, week) for the distinct activity grid (both keyed on
    user — exchange reuse into the join), then a final groupBy over
    (cohort_week, offset) pairs of AGGREGATED rows.  n_users needs no
    count-distinct anywhere: the activity grid is already distinct per
    (user, week)."""
    wk = (
        F.floor(F.unix_timestamp(F.col("ts")) / WEEK_S)
        .cast("long")
        .alias("week")
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("value") > COHORT_VALUE_FLOOR)
        )
        .select("user_id", wk)
    )
    first = ev.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    active = ev.distinct()  # the (user, week) activity grid
    return (
        active.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
        .select(
            F.col("cohort_week").cast("long").alias("cohort_week"),
            F.col("week_offset").cast("long").alias("week_offset"),
            "n_users",
        )
    )


_COHORT_RETENTION = f"""
WITH ev AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // {WEEK_S} AS week
  FROM events
  WHERE event_type = 'purchase' AND value > {COHORT_VALUE_FLOOR}
), first AS (
  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1
), active AS (
  SELECT DISTINCT user_id, week FROM ev
)
SELECT CAST(f.cohort_week AS BIGINT) AS cohort_week,
       CAST(a.week - f.cohort_week AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range-overlap) join, bucket-expanded (r04): per
    (event_type, busy hour) synthesize an UNALIGNED 45-min maintenance
    window (start = hb*3600 + (hb%7)*137), then join every event to the
    window containing it — `t BETWEEN start AND end` with equal types —
    and emit per-window membership count + id checksum.

    Scale shape: intervals.interval_join explodes each window to the
    1800-second buckets it covers and equi-joins on (event_type,
    bucket) before the exact refine — a hash join at any volume, never
    the BroadcastNestedLoopJoin/cartesian a raw non-equi predicate
    plans (pinned in test_plans.py)."""
    from ..intervals import interval_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp("ts").alias("t"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    s = F.col("hb") * 3600 + (F.col("hb") % 7) * 137
    iv = (
        ev.groupBy("event_type", F.expr("t DIV 3600").alias("hb"))
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 5)
        .select(
            "event_type",
            s.cast("long").alias("start"),
            (s + 2700).cast("long").alias("end"),
        )
    )
    j = interval_join(
        ev, iv, t_col="t", start_col="start", end_col="end",
        granularity=1800, keys=["event_type"],
    )
    return j.groupBy("event_type", "start").agg(
        F.count("*").cast("long").alias("n_in"),
        F.sum("event_id").cast("long").alias("id_sum"),
    ).select(
        "event_type", F.col("start").alias("ivl_start"), "n_in", "id_sum"
    )


_INTERVAL_JOIN = """
WITH ev AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(event_id AS BIGINT) AS event_id
  FROM events
), h AS (
  SELECT event_type, t // 3600 AS hb
  FROM ev GROUP BY event_type, t // 3600 HAVING count(*) >= 5
), iv AS (
  SELECT event_type,
         CAST(hb * 3600 + (hb % 7) * 137 AS BIGINT) AS s,
         CAST(hb * 3600 + (hb % 7) * 137 + 2700 AS BIGINT) AS e
  FROM h
)
SELECT ev.event_type, iv.s AS ivl_start,
       CAST(count(*) AS BIGINT) AS n_in,
       CAST(sum(ev.event_id) AS BIGINT) AS id_sum
FROM ev JOIN iv
  ON ev.event_type = iv.event_type AND ev.t BETWEEN iv.s AND iv.e
GROUP BY ev.event_type, iv.s
"""


def q_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface: users active in both halves of the
    data's time range vs only the first half, tagged and unioned."""
    ev = load_table(spark, sf_dir, "events")
    # integer-floor midpoint: plain /2 + cast truncates in Spark but the
    # DuckDB CAST rounds, so an odd min+max would disagree by 1 and flip
    # any event at exactly ts=mid — floor() on both sides (oracle uses
    # BIGINT // 2) keeps the integer-arithmetic parity invariant
    mid = ev.agg(
        F.floor(
            (F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts"))) / 2
        )
        .cast("long")
        .alias("mid")
    )
    tagged = ev.crossJoin(F.broadcast(mid)).select(
        F.col("user_id").cast("long").alias("user_id"),
        (F.unix_timestamp("ts") < F.col("mid")).alias("first_half"),
    )
    a = tagged.where("first_half").select("user_id").distinct()
    b = tagged.where(~F.col("first_half")).select("user_id").distinct()
    both = a.intersect(b).withColumn("cohort", F.lit("both"))
    only_a = a.exceptAll(b).withColumn("cohort", F.lit("first_only"))
    return both.unionByName(only_a)


_USER_SET_OPS = """
WITH bounds AS (
  SELECT (CAST(min(floor(epoch(ts))) AS BIGINT)
          + CAST(max(floor(epoch(ts))) AS BIGINT)) // 2 AS mid FROM events
), a AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id
  FROM events, bounds WHERE floor(epoch(ts)) < mid
), b AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id
  FROM events, bounds WHERE floor(epoch(ts)) >= mid
)
SELECT user_id, 'both' AS cohort FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT user_id, 'first_only' AS cohort FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
"""


_SESSION_GAP_S = 1800  # 30 min of inactivity starts a new session


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user event runs split on >30min inactivity
    gaps (lag + running sum of session starts — the batch equivalent of
    a streaming session window).  Emits per-session stats."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp("ts").alias("ts_s"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts_s") - F.lag("ts_s").over(w) > _SESSION_GAP_S, 1
        ).otherwise(
            F.when(F.lag("ts_s").over(w).isNull(), 1).otherwise(0)
        ),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return flagged.groupBy("user_id", "session_idx").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.max("ts_s") - F.min("ts_s")).cast("long").alias("duration_s"),
        F.min("ts_s").cast("long").alias("started_at"),
    )


_SESSIONIZE = f"""
WITH ev AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
), flagged AS (
  SELECT user_id, ts_s,
         CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                          ORDER BY ts_s) > {_SESSION_GAP_S}
              THEN 1
              WHEN lag(ts_s) OVER (PARTITION BY user_id
                                   ORDER BY ts_s) IS NULL THEN 1
              ELSE 0 END AS new_session
  FROM ev
), sess AS (
  SELECT user_id, ts_s,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(ts_s) - min(ts_s) AS BIGINT) AS duration_s,
       CAST(min(ts_s) AS BIGINT) AS started_at
FROM sess GROUP BY user_id, session_idx
"""


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` sessionization (r04) — the
    streaming-capable operator, run here in batch mode against the SAME
    lag-formulation oracle as q_sessionize (minus the session ordinal):
    second-truncated timestamps + gap_s+1 duration make Spark's
    gap >= duration split on raw timestamps bit-identical to the
    oracle's strictly-greater split on floored seconds.  One exchange;
    in streaming mode the state store holds open sessions only
    (test_streaming.py pins stream == batch)."""
    from ..streaming import session_windows

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return session_windows(ev, gap_s=_SESSION_GAP_S)


_SESSION_WINDOW = f"""
WITH ev AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
), flagged AS (
  SELECT user_id, ts_s,
         CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id
                                          ORDER BY ts_s) > {_SESSION_GAP_S}
              THEN 1
              WHEN lag(ts_s) OVER (PARTITION BY user_id
                                   ORDER BY ts_s) IS NULL THEN 1
              ELSE 0 END AS new_session
  FROM ev
), sess AS (
  SELECT user_id, ts_s,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(ts_s) - min(ts_s) AS BIGINT) AS duration_s,
       CAST(min(ts_s) AS BIGINT) AS started_at
FROM sess GROUP BY user_id, session_idx
"""


def q_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by event count, deterministic tie-break on user_id.

    orderBy().limit(k) plans TakeOrderedAndProject — a distributed
    partial top-k (every partition keeps its own k, the driver merges) —
    instead of a global row_number() window, which would sort EVERY
    user's count row in one task.  Rank is then derived by a window over
    the already-collected 10-row result, which is free."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    top = counts.orderBy(F.col("n_events").desc(), F.col("user_id").asc()).limit(10)
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("long").alias("rank"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_events").cast("long").alias("n_events"),
    )


_TOPK_USERS = """
WITH counts AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, n_events,
         row_number() OVER (ORDER BY n_events DESC, user_id ASC) AS rank
  FROM counts
)
SELECT CAST(rank AS BIGINT) AS rank,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(n_events AS BIGINT) AS n_events
FROM ranked WHERE rank <= 10
"""


def q_late_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order ingest census: reading events in event_id (ingest)
    order, an event is LATE when its timestamp is older than the
    watermark — the running max event time over everything ingested
    before it.  Per source: events, late events, late rate (permille),
    worst lateness (µs) — the numbers that size a streaming pipeline's
    watermark delay and the batch engine's late-data reconciliation
    window.

    Scale shape: the watermark is a GLOBAL running max over ingest
    order — the textbook one-task sort — so it rides
    prefix.running_mins (max = -min of negation): range partition by
    event_id, per-partition totals cumulated driver-side, bounded
    within-partition windows only.  Inclusive running max makes
    depth = rmax - ts exactly 0 for in-order events, no null handling.
    The lateness sum is intentionally NOT emitted (n × span µs can pass
    2^63 on a year-long 10^12-event corpus); count/max/permille are
    overflow-free at any size."""
    from ..prefix import running_mins

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_type").alias("source"),
        # NTZ parquet timestamps + UTC session tz: the cast is exactly
        # DuckDB's epoch_us on the same naive values
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).withColumn("neg_ts", -F.col("ts_us"))
    marked = running_mins(
        ev, ["neg_ts"], ["event_id"], num_partitions=32
    ).withColumn("late_us", (-F.col("rm_neg_ts")) - F.col("ts_us"))
    return marked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.max("late_us").cast("long").alias("max_late_us"),
    ).withColumn(
        "late_permille",
        F.expr("(n_late * 1000) DIV n_events").cast("long"),
    )


_LATE_ARRIVAL = """
WITH ev AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         event_type AS source,
         epoch_us(ts) AS ts_us
  FROM events
), marked AS (
  SELECT source,
         max(ts_us) OVER (ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING) - ts_us AS late_us
  FROM ev
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(max(late_us) AS BIGINT) AS max_late_us,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS late_permille
FROM marked GROUP BY source
"""


PATH_MIN_COUNT = 5  # emit trigram paths occurring at least this often


def q_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey discovery: every 3-step event-type sequence inside a
    user's DAY of activity, counted corpus-wide, emitting paths seen
    >= PATH_MIN_COUNT times — the path-mining complement to
    q_funnel_steps' fixed funnel (funnels test a hypothesis; this
    surfaces the hypotheses).

    Scale shape: the journey unit is (user, day) — the same bound the
    Markov/interarrival fixes adopted, so no per-user history ever
    sorts in one task and there is NO window at all: one groupBy
    builds each journey's ordered type array in-row via
    array_sort(collect_list(struct)), trigram windows come from an
    in-row transform (never an explode-and-self-join), and the final
    path count is a map-side-combinable groupBy.  A threshold (not
    top-k) keeps the output deterministic — no rank ties to break.

    Microsecond timestamps + event_id tie-break give both engines an
    identical within-journey order even when a user fires two events
    in the same second."""
    # r06: fan the single-row-group scan out on user_id — the same
    # key the journey groupBy clusters on, so the fan-out exchange IS
    # the aggregation exchange and the projection runs on all cores
    # (2.41 s -> 1.33 s at sf1.0, OPTIMIZATION_r06.md)
    ev = load_table(
        spark, sf_dir, "events", fanout_on=["user_id"],
        fanout_min_rows=300_000,
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_type").alias("typ"),
    ).withColumn("day", F.expr("ts_us DIV 86400000000"))
    ordered = ev.groupBy("user_id", "day").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "typ"))),
            lambda s: s["typ"],
        ).alias("types")
    )
    tri = ordered.where(F.size("types") >= 3).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("types") - 2),
                lambda i: F.concat_ws(
                    ">",
                    F.element_at("types", i),
                    F.element_at("types", i + 1),
                    F.element_at("types", i + 2),
                ),
            )
        ).alias("path")
    )
    return (
        tri.groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") >= PATH_MIN_COUNT)
    )


_JOURNEY_PATHS = f"""
WITH ev AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         CAST(event_id AS BIGINT) AS event_id,
         epoch_us(ts) AS ts_us,
         epoch_us(ts) // 86400000000 AS day,
         event_type AS typ
  FROM events
), ordered AS (
  SELECT user_id, day, list(typ ORDER BY ts_us, event_id) AS types
  FROM ev GROUP BY user_id, day
), tri AS (
  SELECT types[i] || '>' || types[i+1] || '>' || types[i+2] AS path
  FROM ordered
  CROSS JOIN (SELECT unnest(generate_series(1,
       (SELECT coalesce(max(len(types)), 0) FROM ordered))) AS i) g
  WHERE len(types) >= 3 AND i <= len(types) - 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n
FROM tri GROUP BY path HAVING count(*) >= {PATH_MIN_COUNT}
"""


TRI_ID_BITS = 24  # rank encoding deg*2^24 + id: ids must stay < 2^24


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user triangle participation over the follows-in-stream
    interaction graph (q_pagerank's linear edge construction,
    undirected + deduped) — the clustering-coefficient numerator, the
    standard cohesion signal on behavioral graphs.

    Scale shape is the degree-ordered orientation (Schank–Wagner /
    Cohen MapReduce): every undirected edge points from its
    lower-(degree, id) endpoint to the higher, so each triangle is
    enumerated EXACTLY once as two out-edges of its lowest-ranked
    vertex plus one closing edge, and a vertex's out-degree is
    O(sqrt(E)) — the wedge join can't quadratically fan out on a hub
    the way the naive a<b<c id-ordering can (a celebrity node with
    10^6 followers contributes zero wedges if its rank is high, not
    C(10^6, 2)).  Ranks encode as deg * 2^24 + id (one BIGINT compare,
    same on both engines) with a loud domain guard; edges checkpoint
    once; the enumeration is two self-equi-joins + an explode and a
    map-side-combinable count."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("stream"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        "user_id",
    ).withColumn("day", F.expr(f"us DIV {DAY_US}"))
    w = Window.partitionBy("stream", "day").orderBy("us", "event_id")
    raw = (
        ev.withColumn("src", F.lag("user_id").over(w))
        .where(F.col("src").isNotNull() & (F.col("src") != F.col("user_id")))
        .select(
            F.least("src", "user_id").cast("long").alias("x"),
            F.greatest("src", "user_id").cast("long").alias("y"),
        )
    )
    bound = 1 << TRI_ID_BITS
    guard = F.when(
        F.col("y") < bound, F.col("y")
    ).otherwise(
        F.raise_error(
            F.lit(
                "q_triangle_counts: user ids must stay below "
                f"2^{TRI_ID_BITS} for the rank encoding"
            )
        ).cast("long")
    )
    sym = pin(raw.select("x", guard.alias("y")).distinct())
    deg = (
        sym.select(F.col("x").alias("u"))
        .unionAll(sym.select(F.col("y").alias("u")))
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("d"))
        .select("u", (F.col("d") * bound + F.col("u")).alias("rk"))
    )
    oriented = pin(
        sym.join(deg.select(F.col("u").alias("x"), F.col("rk").alias("rkx")), "x")
        .join(deg.select(F.col("u").alias("y"), F.col("rk").alias("rky")), "y")
        .select(
            F.when(F.col("rkx") < F.col("rky"), F.col("x"))
            .otherwise(F.col("y"))
            .alias("lo"),
            F.when(F.col("rkx") < F.col("rky"), F.col("rky"))
            .otherwise(F.col("rkx"))
            .alias("hi_rk"),
            F.when(F.col("rkx") < F.col("rky"), F.col("y"))
            .otherwise(F.col("x"))
            .alias("hi"),
        )
    )
    e1 = oriented.select(
        F.col("lo").alias("a"),
        F.col("hi").alias("b"),
        F.col("hi_rk").alias("rk_b"),
    )
    e2 = oriented.select(
        F.col("lo").alias("a"),
        F.col("hi").alias("c"),
        F.col("hi_rk").alias("rk_c"),
    )
    wedges = e1.join(e2, "a").where(F.col("rk_b") < F.col("rk_c"))
    closing = oriented.select(
        F.col("lo").alias("b"), F.col("hi").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    return (
        tris.select(
            F.explode(F.array("a", "b", "c")).alias("user_id")
        )
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


_TRIANGLE_COUNTS = f"""
WITH ev AS (
  SELECT event_type AS stream,
         epoch_us(ts) AS us,
         event_id, user_id,
         epoch_us(ts) // {DAY_US} AS day
  FROM events
), lagged AS (
  SELECT user_id,
         lag(user_id) OVER (PARTITION BY stream, day
                            ORDER BY us, event_id) AS src
  FROM ev
), sym AS (
  SELECT DISTINCT
         CAST(least(src, user_id) AS BIGINT) AS x,
         CAST(greatest(src, user_id) AS BIGINT) AS y
  FROM lagged WHERE src IS NOT NULL AND src <> user_id
), deg AS (
  SELECT u, count(*) * {1 << TRI_ID_BITS} + u AS rk FROM (
    SELECT x AS u FROM sym UNION ALL SELECT y AS u FROM sym
  ) GROUP BY u
), oriented AS (
  SELECT CASE WHEN dx.rk < dy.rk THEN sym.x ELSE sym.y END AS lo,
         CASE WHEN dx.rk < dy.rk THEN sym.y ELSE sym.x END AS hi,
         CASE WHEN dx.rk < dy.rk THEN dy.rk ELSE dx.rk END AS hi_rk
  FROM sym
  JOIN deg dx ON dx.u = sym.x
  JOIN deg dy ON dy.u = sym.y
), tris AS (
  SELECT e1.a, e1.b, e2.c FROM
    (SELECT lo AS a, hi AS b, hi_rk AS rk_b FROM oriented) e1
    JOIN (SELECT lo AS a, hi AS c, hi_rk AS rk_c FROM oriented) e2
      ON e1.a = e2.a AND e1.rk_b < e2.rk_c
    JOIN (SELECT lo AS b, hi AS c FROM oriented) e3
      ON e3.b = e1.b AND e3.c = e2.c
), members AS (
  SELECT a AS user_id FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_triangles
FROM members GROUP BY user_id
"""


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew census — the shuffle-planning diagnostic this
    engine's own CLAUDE.md rules keep invoking (salting, AQE skew
    join): per event_type, the distribution of per-user row counts —
    key cardinality, max, exact dyadic quantiles (x4, the
    q_value_percentiles trick), and the hottest key's traffic share in
    ppm.  This is what decides salting factors BEFORE a 100 TB shuffle
    runs.

    Scale shape: two stacked map-side-combinable groupBys — raw rows
    collapse to one row per (event_type, user_id) in the map stage, so
    the second agg sees key-cardinality rows, never raw traffic.
    hot_share_ppm = max * 1e6 DIV total stays < 2^63 for totals to
    ~9e12 rows per type."""
    ev = load_table(spark, sf_dir, "events")
    kc = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("cnt")
    )
    agg = kc.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_events"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.expr("percentile(cnt, array(0.5, 0.75))").alias("p"),
    )
    return agg.select(
        "event_type",
        "n_keys",
        "n_events",
        "max_cnt",
        (F.element_at("p", 1) * 4).cast("long").alias("p50_x4"),
        (F.element_at("p", 2) * 4).cast("long").alias("p75_x4"),
    ).withColumn(
        "hot_share_ppm", F.expr("max_cnt * 1000000 DIV n_events")
    )


_KEY_SKEW = """
WITH kc AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(cnt) AS BIGINT) AS n_events,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       CAST(quantile_cont(cnt, 0.5) * 4 AS BIGINT) AS p50_x4,
       CAST(quantile_cont(cnt, 0.75) * 4 AS BIGINT) AS p75_x4,
       CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT) AS hot_share_ppm
FROM kc GROUP BY event_type
"""


def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per (event_type, day) via bitmap words —
    the roaring-bitmap shape (ClickHouse groupBitmap / Kylin bitmap
    count-distinct) re-expressed on int64 words: user u sets bit
    u % 64 of word u DIV 64, words OR-combine map-side, and the
    distinct count is the sum of per-word popcounts.  Unlike
    count(DISTINCT) — whose Spark rewrite expands every row into the
    aggregation — the bitmap is a fixed-width, fully map-side-
    combinable, OR-MERGEABLE state: daily word tables roll up to
    weekly/monthly distinct by the same bit_or, the cagg story the
    HLL sketch gives approximately, exact here.

    Shape: two stacked map-side-combinable groupBys; the one
    event-wide exchange carries (type, day, word_idx, 8-byte word) —
    at most distinct_users/64 rows per group survive the map side.
    The oracle computes count(DISTINCT user_id) directly, so the gate
    proves the bitmap path EQUALS exact distinct, not just that both
    engines agree on the same trick."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) AS LONG) DIV 86400").alias("day"),
        F.expr("CAST(user_id AS LONG) DIV 64").alias("w"),
        F.expr(
            "shiftleft(CAST(1 AS LONG), CAST(pmod(user_id, 64) AS INT))"
        ).alias("b"),
    )
    words = ev.groupBy("event_type", "day", "w").agg(
        F.expr("bit_or(b)").alias("bits")
    )
    return words.groupBy("event_type", "day").agg(
        F.sum(F.expr("bit_count(bits)")).cast("long").alias("n_distinct"),
        F.count("*").cast("long").alias("n_words"),
    ).select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "n_distinct",
        "n_words",
    )


_BITMAP_DISTINCT = """
SELECT event_type,
       CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
       CAST(count(DISTINCT user_id // 64) AS BIGINT) AS n_words
FROM events GROUP BY 1, 2
"""


STREAK_MIN_DAYS = 2  # emit users with at least one >=2-day streak


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user (the engagement
    metric every product dashboard carries): longest streak, number of
    distinct streaks, and total active days, for users whose best
    streak reaches STREAK_MIN_DAYS.  Classic gaps-and-islands:
    island = day - row_number over the user's distinct active days.

    Shape: the raw table collapses to distinct (user, day) in ONE
    map-side-combinable groupBy; the islands window partitions by
    user over ACTIVE-DAY rows (bounded by the calendar, never raw
    traffic), and the two stacked groupBys reuse the same hash
    partitioning."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.expr("CAST(unix_timestamp(ts) AS LONG) DIV 86400").alias("day"),
    )
    ad = ev.groupBy("user_id", "day").agg(F.lit(1).alias("one")).drop("one")
    w = Window.partitionBy("user_id").orderBy("day")
    isl = ad.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("isl"),
    )
    runs = isl.groupBy("user_id", "isl").agg(
        F.count("*").cast("long").alias("len")
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.max("len").cast("long").alias("longest_streak"),
            F.count("*").cast("long").alias("n_streaks"),
            F.sum("len").cast("long").alias("n_active_days"),
        )
        .where(F.col("longest_streak") >= STREAK_MIN_DAYS)
    )


_USER_STREAKS = f"""
WITH ad AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
), isl AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
           AS isl
  FROM ad
), runs AS (
  SELECT user_id, isl, CAST(count(*) AS BIGINT) AS len
  FROM isl GROUP BY 1, 2
)
SELECT user_id,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(sum(len) AS BIGINT) AS n_active_days
FROM runs GROUP BY user_id
HAVING max(len) >= {STREAK_MIN_DAYS}
"""


# q_type_lift's in-row pair bound: like SOURCE_OVERLAP_MAX, the basket
# set is bounded by the event-type vocabulary, not the corpus.
TYPE_LIFT_MAX = 64


def q_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types over (user, day) baskets:
    lift(a,b) = P(a,b) / (P(a) P(b)) — the co-occurrence signal that
    separates "checkout follows cart" from coincidence.

    Shape mirrors q_source_overlap: baskets collect their type-set
    IN-ROW (bounded by TYPE_LIFT_MAX, runtime raise past it), pairs
    are emitted by nested transform — never a self-join of the basket
    table — and the per-type totals plus the one-row basket count
    broadcast back onto the <= |types|^2/2-row pair table.  Lift is
    exact integer permille via split division: with baskets <= 2^24,
    num = n_ab * baskets < 2^48 and the remainder term < den * 1000."""
    ev = load_table(spark, sf_dir, "events")
    baskets = ev.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    )
    bsets = baskets.groupBy("user_id", "day").agg(
        F.array_sort(F.collect_set("event_type")).alias("tps")
    ).select(
        F.when(F.size("tps") <= TYPE_LIFT_MAX, F.col("tps"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "q_type_lift: basket wider than the in-row bound "
                    f"{TYPE_LIFT_MAX}"
                )
            ).cast("array<string>")
        )
        .alias("tps")
    )
    nb = bsets.select(F.count("*").cast("long").alias("baskets"))
    ntype = bsets.select(F.explode("tps").alias("t")).groupBy("t").agg(
        F.count("*").cast("long").alias("nt")
    )
    pairs = bsets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "tps",
                    lambda a, i: F.transform(
                        F.slice("tps", i + F.lit(2), F.size("tps")),
                        lambda b: F.struct(
                            a.alias("type_a"), b.alias("type_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.type_a", "p.type_b")
    nab = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("n_ab")
    )
    ta = ntype.select(F.col("t").alias("type_a"), F.col("nt").alias("n_a"))
    tb = ntype.select(F.col("t").alias("type_b"), F.col("nt").alias("n_b"))
    out = (
        nab.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(nb))
    )
    return out.select(
        "type_a",
        "type_b",
        "n_ab",
        "n_a",
        "n_b",
        "baskets",
        (
            F.expr("(n_ab * baskets) DIV (n_a * n_b)") * 1000
            + F.expr("(((n_ab * baskets) % (n_a * n_b)) * 1000) DIV (n_a * n_b)")
        ).cast("long").alias("lift_milli"),
    )


_TYPE_LIFT = """
WITH b AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
  FROM events
), nb AS (
  SELECT CAST(count(*) AS BIGINT) AS baskets
  FROM (SELECT DISTINCT user_id, day FROM b)
), nt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS nt FROM b GROUP BY 1
), p AS (
  SELECT a.event_type AS type_a, x.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM b a JOIN b x
    ON a.user_id = x.user_id AND a.day = x.day
   AND a.event_type < x.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       ta.nt AS n_a, tb.nt AS n_b, nb.baskets,
       CAST(((p.n_ab * nb.baskets) // (ta.nt * tb.nt)) * 1000
            + (((p.n_ab * nb.baskets) % (ta.nt * tb.nt)) * 1000)
              // (ta.nt * tb.nt) AS BIGINT) AS lift_milli
FROM p
CROSS JOIN nb
JOIN nt ta ON ta.event_type = p.type_a
JOIN nt tb ON tb.event_type = p.type_b
"""


NUCLEUS_PERMILLE = 900  # traffic share the nucleus must cover


def q_nucleus_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-nucleus census per event_type: the MINIMAL number of
    users covering >= 90% of the type's events — the workload-
    concentration figure behind cache sizing and hot-key triage
    (top-p/nucleus cutoff applied to key traffic).

    EXACT at any scale WITHOUT ranking users: per-user counts collapse
    to the distinct COUNT-VALUE table (type, c, k users at that count)
    — at most O(sqrt(2 * events_per_type)) rows per type, since
    distinct counts sum to the total — then one window over counts
    DESC finds the boundary count group and a ceil division inside it
    yields the exact user count (users at the same count are
    interchangeable, so the minimal nucleus is well-defined).  Two
    stacked map-side-combinable groupBys; no window ever sees a
    user-sized table."""
    ev = load_table(spark, sf_dir, "events")
    uc = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("c")
    )
    g = uc.groupBy("event_type", "c").agg(
        F.count("*").cast("long").alias("k")
    ).select("event_type", "c", "k", (F.col("c") * F.col("k")).alias("tok"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = g.select(
        "event_type",
        "c",
        "k",
        "tok",
        F.coalesce(F.sum("tok").over(w), F.lit(0).cast("long"))
        .cast("long")
        .alias("tok_before"),
        F.coalesce(F.sum("k").over(w), F.lit(0).cast("long"))
        .cast("long")
        .alias("users_before"),
    )
    totals = g.groupBy("event_type").agg(
        F.sum("tok").cast("long").alias("total_events"),
        F.sum("k").cast("long").alias("n_users"),
    )
    j = pre.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "c",
        "k",
        "tok",
        "tok_before",
        "users_before",
        "total_events",
        "n_users",
        F.expr(
            f"(total_events * {NUCLEUS_PERMILLE} + 999) DIV 1000"
        ).alias("target"),
    )
    hit = j.where(
        (F.col("tok_before") < F.col("target"))
        & (F.col("tok_before") + F.col("tok") >= F.col("target"))
    )
    return hit.select(
        "event_type",
        "total_events",
        "n_users",
        (
            F.col("users_before")
            + F.expr("(target - tok_before + c - 1) DIV c")
        )
        .cast("long")
        .alias("nucleus_users"),
    ).select(
        "event_type",
        "total_events",
        "n_users",
        "nucleus_users",
        F.expr("(nucleus_users * 1000) DIV n_users")
        .cast("long")
        .alias("nucleus_permille"),
    )


_NUCLEUS_KEYS = f"""
WITH uc AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), g AS (
  SELECT event_type, c, CAST(count(*) AS BIGINT) AS k,
         c * CAST(count(*) AS BIGINT) AS tok
  FROM uc GROUP BY 1, 2
), pre AS (
  SELECT event_type, c, k, tok,
         CAST(coalesce(sum(tok) OVER (PARTITION BY event_type
              ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_before,
         CAST(coalesce(sum(k) OVER (PARTITION BY event_type
              ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS users_before
  FROM g
), t AS (
  SELECT event_type, CAST(sum(tok) AS BIGINT) AS total_events,
         CAST(sum(k) AS BIGINT) AS n_users
  FROM g GROUP BY 1
), j AS (
  SELECT pre.*, t.total_events, t.n_users,
         (t.total_events * {NUCLEUS_PERMILLE} + 999) // 1000 AS target
  FROM pre JOIN t USING (event_type)
), hit AS (
  SELECT event_type, total_events, n_users,
         users_before + (target - tok_before + c - 1) // c
           AS nucleus_users
  FROM j
  WHERE tok_before < target AND tok_before + tok >= target
)
SELECT event_type, total_events, n_users,
       CAST(nucleus_users AS BIGINT) AS nucleus_users,
       CAST((nucleus_users * 1000) // n_users AS BIGINT)
         AS nucleus_permille
FROM hit
"""


def q_ab_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically assigned to two
    arms by content hash (md5 of the user id — the q_hash_split idiom,
    reproducible across engines and partitionings), per event_type the
    arm sizes, micro-unit means, and the uplift mean(A) - mean(B).
    Exact integers end to end (v6 = floor(value * 1e6), mean = sum DIV
    n, truncation identical cross-engine).  ONE map-side-combinable
    groupBy with conditional sums — raw events shuffle nowhere."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 14),
            16,
            10,
        ).cast("long")
        % 2
    )
    base = ev.select(
        "event_type",
        arm.alias("arm"),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v6"),
    )
    g = base.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("v6")).otherwise(0))
        .cast("long")
        .alias("s_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("v6")).otherwise(0))
        .cast("long")
        .alias("s_b"),
    ).where((F.col("n_a") > 0) & (F.col("n_b") > 0))
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr("s_a DIV n_a").cast("long").alias("mean_a_u6"),
        F.expr("s_b DIV n_b").cast("long").alias("mean_b_u6"),
        (F.expr("s_a DIV n_a") - F.expr("s_b DIV n_b"))
        .cast("long")
        .alias("uplift_u6"),
    )


_AB_UPLIFT = """
WITH e AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))
              AS BIGINT) % 2 AS arm,
         CAST(floor(value * 1000000) AS BIGINT) AS v6
  FROM events
), g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 0 THEN v6 ELSE 0 END) AS BIGINT) AS s_a,
         CAST(sum(CASE WHEN arm = 1 THEN v6 ELSE 0 END) AS BIGINT) AS s_b
  FROM e GROUP BY 1
)
SELECT event_type, n_a, n_b,
       CAST(s_a // n_a AS BIGINT) AS mean_a_u6,
       CAST(s_b // n_b AS BIGINT) AS mean_b_u6,
       CAST(s_a // n_a - s_b // n_b AS BIGINT) AS uplift_u6
FROM g WHERE n_a > 0 AND n_b > 0
"""
