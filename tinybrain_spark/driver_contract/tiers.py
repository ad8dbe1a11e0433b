"""Retention-tier queries: the pooling kernels as rollup tiers.

avg/mode/max/min/stride tiers (dense, sparse, float, non-power-of-two
and deep renorm-crossing windows), 2-D tiles, serving, retention,
continuous aggregates, tier planning and the tier encoders (Gorilla,
Haar, delta-of-delta, M4/OHLC decimation, Z-order tiles).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, pin
from ..udfs import pool_tier
from .sequences import (
    DAY_US,
    LONG_CAP,
    LONG_UNIT,
    SEQ_CTE,
    TRUNC,
    W8_UNIT,
    _hourly_counts,
    _long_cte,
    _stitched_deltas,
    _tok_expr,
    long_token_table,
    token_table,
)


def _explode_pooled(df: DataFrame, pooled_col: str) -> DataFrame:
    return df.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.posexplode(pooled_col).alias("pos", "token"),
    ).select(
        "user_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("token").cast("long").alias("token"),
    )


def _pooled(tt: DataFrame, key: str, kernel, window, tiers, sparse) -> DataFrame:
    """(key, tokens, n_tok): the deepest of ``tiers`` pooled tiers per
    row; sparse kernels pool the zero-holed ``stokens``."""
    col = "stokens" if sparse else "tokens"
    pool = pool_tier(kernel, window=window, num_tiers=tiers, sparse=sparse)
    return pool(tt.select(key, F.col(col).alias("tokens")))


def _pool_query(kernel, window, tiers, sparse):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        tt = token_table(spark, sf_dir)
        pooled = _pooled(tt, "user_id", kernel, window, tiers, sparse)
        return _explode_pooled(pooled, "tokens")

    return q


def _long_pool_query(kernel, window, tiers, sparse, unit):
    """Deep-tier pooling over the long coalesced sequences (gid key)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        tt = long_token_table(spark, sf_dir, unit=unit, cap=LONG_CAP)
        pooled = _pooled(tt, "gid", kernel, window, tiers, sparse)
        return pooled.select(
            F.col("gid").cast("long").alias("gid"),
            F.posexplode("tokens").alias("pos", "token"),
        ).select(
            "gid",
            F.col("pos").cast("long").alias("pos"),
            F.col("token").cast("long").alias("token"),
        )

    return q

_AVG_T1 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 4 AS BIGINT) AS pos,
       CAST(sum(tok) // 4 AS BIGINT) AS token
FROM seq GROUP BY user_id, pos // 4
"""

_AVG_T2 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 16 AS BIGINT) AS pos,
       CAST(sum(tok) // 16 AS BIGINT) AS token
FROM seq GROUP BY user_id, pos // 16
"""

_AVG_SPARSE_T1 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 4 AS BIGINT) AS pos,
       CAST(CASE WHEN count(*) FILTER (WHERE stok <> 0) = 0 THEN 0
            ELSE sum(stok) // (count(*) FILTER (WHERE stok <> 0))
            END AS BIGINT) AS token
FROM seq GROUP BY user_id, pos // 4
"""

_W4_PIVOT = """
, win AS (
  SELECT user_id, pos // 4 AS opos,
         max(CASE WHEN pos % 4 = 0 THEN {c} END) AS a,
         max(CASE WHEN pos % 4 = 1 THEN {c} END) AS b,
         max(CASE WHEN pos % 4 = 2 THEN {c} END) AS c,
         max(CASE WHEN pos % 4 = 3 THEN {c} END) AS d
  FROM seq GROUP BY user_id, pos // 4
)
"""

_MODE_T1 = SEQ_CTE + _W4_PIVOT.format(c="tok") + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(opos AS BIGINT) AS pos,
       CAST(CASE WHEN a = b OR a = c THEN a
                 WHEN b = c THEN b ELSE d END AS BIGINT) AS token
FROM win
"""

# mode-of-modes (tier 2 = countless over tier-1 outputs, downsample.py:215)
_MODE_T2 = SEQ_CTE + _W4_PIVOT.format(c="tok") + """
, t1 AS (
  SELECT user_id, opos AS pos,
         CASE WHEN a = b OR a = c THEN a
              WHEN b = c THEN b ELSE d END AS tok
  FROM win
), win2 AS (
  SELECT user_id, pos // 4 AS opos,
         max(CASE WHEN pos % 4 = 0 THEN tok END) AS a,
         max(CASE WHEN pos % 4 = 1 THEN tok END) AS b,
         max(CASE WHEN pos % 4 = 2 THEN tok END) AS c,
         max(CASE WHEN pos % 4 = 3 THEN tok END) AS d
  FROM t1 GROUP BY user_id, pos // 4
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(opos AS BIGINT) AS pos,
       CAST(CASE WHEN a = b OR a = c THEN a
                 WHEN b = c THEN b ELSE d END AS BIGINT) AS token
FROM win2
"""

_MODE_SPARSE_T1 = SEQ_CTE + _W4_PIVOT.format(c="stok") + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(opos AS BIGINT) AS pos,
       CAST(CASE
         WHEN a <> 0 AND (a = b OR a = c) THEN a
         WHEN b <> 0 AND b = c THEN b
         WHEN d <> 0 THEN d
         WHEN a <> 0 THEN a
         WHEN b <> 0 THEN b
         ELSE c END AS BIGINT) AS token
FROM win
"""

# 8-way counting mode with first-scan-order tie-break (hpp:1069-1149)
_MODE8_T1 = SEQ_CTE + """
, w AS (
  SELECT user_id, pos // 8 AS opos, pos % 8 AS slot, tok FROM seq
), c AS (
  SELECT a.user_id, a.opos, a.slot, a.tok, count(*) AS ct
  FROM w a JOIN w b
    ON a.user_id = b.user_id AND a.opos = b.opos AND a.tok = b.tok
  GROUP BY a.user_id, a.opos, a.slot, a.tok
), ranked AS (
  SELECT user_id, opos, tok,
         row_number() OVER (PARTITION BY user_id, opos
                            ORDER BY ct DESC, slot ASC) AS rn
  FROM c
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(opos AS BIGINT) AS pos,
       CAST(tok AS BIGINT) AS token
FROM ranked WHERE rn = 1
"""

_MAX_T1 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 4 AS BIGINT) AS pos,
       CAST(max(tok) AS BIGINT) AS token
FROM seq GROUP BY user_id, pos // 4
"""

_MIN_T1 = _MAX_T1.replace("max(tok)", "min(tok)")

_STRIDE_T1 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 4 AS BIGINT) AS pos,
       CAST(tok AS BIGINT) AS token
FROM seq WHERE pos % 4 = 0
"""

_AVG_W8 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 8 AS BIGINT) AS pos,
       CAST(sum(tok) // 8 AS BIGINT) AS token
FROM seq GROUP BY user_id, pos // 8
"""

_AVG_W2 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 2 AS BIGINT) AS pos,
       CAST(sum(tok) // 2 AS BIGINT) AS token
FROM seq GROUP BY user_id, pos // 2
"""

# sparse pair mode: first nonzero of (a, b), else 0
_MODE_SPARSE_W2 = SEQ_CTE + """
, win AS (
  SELECT user_id, pos // 2 AS opos,
         max(CASE WHEN pos % 2 = 0 THEN stok END) AS a,
         max(CASE WHEN pos % 2 = 1 THEN stok END) AS b
  FROM seq GROUP BY user_id, pos // 2
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(opos AS BIGINT) AS pos,
       CAST(CASE WHEN a <> 0 THEN a ELSE b END AS BIGINT) AS token
FROM win
"""

# -- float tiers + non-power-of-two windows (engine paths) -----------------


def q_avg_float_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float-dtype tier through the Spark engine: float32 accumulator,
    divisor 4^(m+1), NO cycle renorm (accelerated.pyx:469-599).  Output
    scaled to integers (floor(x*1000)) for hash-stable oracle compare —
    exact because block sums (<= 255*16) and /16 are exact in f32."""
    tt = token_table(spark, sf_dir).select("user_id", "tokens")
    pooled = pool_tier("avg", window=4, num_tiers=2, dtype=np.float32)(tt)
    return pooled.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.posexplode("tokens").alias("pos", "fval"),
    ).select(
        "user_id",
        F.col("pos").cast("long").alias("pos"),
        F.floor(F.col("fval").cast("double") * 1000).cast("long").alias("token_c"),
    )


_AVG_FLOAT_T2 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 16 AS BIGINT) AS pos,
       CAST(floor((sum(tok) / 16.0) * 1000) AS BIGINT) AS token_c
FROM seq GROUP BY user_id, pos // 16
"""


def q_avg_rollup_w3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-power-of-two window through the engine: the reference's
    numpy generic path (float32 temp accumulate / count divide / cast
    back, downsample.py:118-145) as a 3:1 retention tier.  Trailing
    partial windows average over the elements present."""
    return _pool_query("avg", 3, 1, False)(spark, sf_dir)


_AVG_W3 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 3 AS BIGINT) AS pos,
       CAST(sum(tok) // count(*) AS BIGINT) AS token
FROM seq GROUP BY user_id, pos // 3
"""


# -- deep tiers crossing the accumulator cycle-renorm boundary -------------
#
# w=4, cycle 4 (accelerated.pyx:224): tiers 1-4 render the shared int64
# block-sum accumulator with shifts 2/4/6/8; after the shift-8 render the
# accumulator is renormalized (accum >>= 8, pyx:240-241), so tier 5 =
# (sum of 4 renormed tier-4 block sums) >> 2.  The sparse w=4 path never
# shifts its denominator at the boundary (pyx:240-259 quirk): tier-5
# denominators are plain sums of nonzero counts of ORIGINAL values.

_AVG_T5 = _long_cte(LONG_UNIT, LONG_CAP) + """
, t4 AS (
  SELECT gid, pos // 256 AS p, sum(tok) AS s
  FROM seq GROUP BY gid, pos // 256
)
SELECT CAST(gid AS BIGINT) AS gid,
       CAST(p // 4 AS BIGINT) AS pos,
       CAST(sum(s // 256) // 4 AS BIGINT) AS token
FROM t4 GROUP BY gid, p // 4
"""

_AVG_SPARSE_T5 = _long_cte(LONG_UNIT, LONG_CAP) + """
, t4 AS (
  SELECT gid, pos // 256 AS p,
         sum(stok) AS s,
         count(*) FILTER (WHERE stok <> 0) AS d
  FROM seq GROUP BY gid, pos // 256
)
SELECT CAST(gid AS BIGINT) AS gid,
       CAST(p // 4 AS BIGINT) AS pos,
       CAST(CASE WHEN sum(d) = 0 THEN 0
            ELSE sum(s // 256) // sum(d) END AS BIGINT) AS token
FROM t4 GROUP BY gid, p // 4
"""

# w=8 tier 2 (cycle 8, pyx:742 — no boundary before tier 9): dense
# renders accum >> 6 == blocksum64 // 64; sparse divides the 64-block
# numerator by the 64-block nonzero count (denominator accumulated
# across tiers, pyx:746-757).

_AVG_W8_T2 = _long_cte(W8_UNIT, LONG_CAP) + """
SELECT CAST(gid AS BIGINT) AS gid,
       CAST(pos // 64 AS BIGINT) AS pos,
       CAST(sum(tok) // 64 AS BIGINT) AS token
FROM seq GROUP BY gid, pos // 64
"""

_AVG_SPARSE_W8_T2 = _long_cte(W8_UNIT, LONG_CAP) + """
SELECT CAST(gid AS BIGINT) AS gid,
       CAST(pos // 64 AS BIGINT) AS pos,
       CAST(CASE WHEN count(*) FILTER (WHERE stok <> 0) = 0 THEN 0
            ELSE sum(stok) // (count(*) FILTER (WHERE stok <> 0))
            END AS BIGINT) AS token
FROM seq GROUP BY gid, pos // 64
"""


def _events_as_sequences(spark, sf_dir) -> DataFrame:
    """events rows as single-token sequences keyed by (event_type, hour)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.col("event_type").alias("source"),
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("time_bucket"),
        F.array(F.floor(F.col("value") * 100).cast("int")).alias("tokens"),
    )


def _cagg_state(df: DataFrame) -> DataFrame:
    """The continuous-aggregate state columns, cast as the oracles type
    them."""
    return df.select(
        F.col("source"),
        *[
            F.col(c).cast("long").alias(c)
            for c in (
                "time_bucket", "n_docs", "n_points",
                "token_sum", "token_min", "token_max",
            )
        ],
    )


def q_continuous_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..aggregates import aggregate_batch

    return _cagg_state(aggregate_batch(_events_as_sequences(spark, sf_dir)))


_CONT_AGG = """
SELECT event_type AS source,
       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS time_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_sum,
       CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_min,
       CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_max
FROM events GROUP BY 1, 2
"""


def q_stream_cagg_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming end-state under the oracle: drain the events (as
    sequence rows) through the Structured Streaming ``foreachBatch``
    incremental path (``run_incremental_stream`` — availableNow trigger,
    exactly-once per micro-batch via the streaming checkpoint) and
    return the STORED continuous aggregate.  The stream itself is not
    SQL-expressible, but its end state is: it must value-hash-equal
    ``q_continuous_agg``'s oracle on the same data — the
    batch-equivalence invariant of incremental view maintenance."""
    import tempfile

    from ..catalog import Catalog
    from ..streaming import drain, run_incremental_stream

    with tempfile.TemporaryDirectory(
        prefix="tb_stream_equiv_", ignore_cleanup_errors=True
    ) as work:
        seq_dir = f"{work}/seq"
        (
            _events_as_sequences(spark, sf_dir)
            .withColumn("n_tok", F.size("tokens"))
            .select("doc_id", "tokens", "n_tok", "source", "time_bucket")
            .repartition(4)  # several files -> several micro-batches
            .write.parquet(seq_dir)
        )
        drain(
            run_incremental_stream(
                spark, seq_dir, f"{work}/wh", table="cagg_equiv",
                max_files_per_trigger=2,
            ),
            "stream",
        )
        stored = _cagg_state(Catalog(spark, f"{work}/wh").read("cagg_equiv"))
        # the stored table lives in a temp dir we are about to delete —
        # pin the rows before cleanup
        return pin(stored)


def q_cagg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalidation-range refresh under the oracle (the correction path
    sum-mergeable folding can't express): fold a CORRUPTED v1 of the
    events-as-sequences table into a stored continuous aggregate (every
    row whose day-of-epoch % 7 == 3 carries tokens inflated by +3700),
    then corrections arrive — ``aggregates.refresh_invalidated`` rebuilds
    ONLY the dirtied (source, day) bucket ranges from the corrected raw
    (literal pushed-down range predicate; only touched source partitions
    rewritten).  The refreshed end state must value-hash-equal the full
    recompute over corrected data — i.e. exactly q_continuous_agg's
    oracle — which is the TimescaleDB-style invalidation-log invariant.
    """
    import tempfile

    from ..aggregates import refresh_invalidated, update_continuous_aggregate
    from ..catalog import Catalog

    seq = _events_as_sequences(spark, sf_dir)
    day = (F.col("time_bucket") / 86400).cast("long")
    dirty = day % 7 == F.lit(3)
    corrupted = seq.withColumn(
        "tokens",
        F.when(dirty, F.transform("tokens", lambda t: t + 3700)).otherwise(
            F.col("tokens")
        ),
    )
    # the invalidation log: one closed bucket range per dirtied
    # (source, day) — tiny driver-side metadata by construction
    log = [
        (r["source"], r["d"] * 86400, r["d"] * 86400 + 86399)
        for r in seq.where(dirty)
        .select("source", day.alias("d"))
        .distinct()
        .collect()
    ]
    with tempfile.TemporaryDirectory(
        prefix="tb_cagg_refresh_", ignore_cleanup_errors=True
    ) as work:
        cat = Catalog(spark, work)
        update_continuous_aggregate(cat, "cagg", corrupted)
        refreshed = refresh_invalidated(cat, "cagg", seq, log)
        # stored table lives in the temp dir being deleted — pin rows
        return pin(_cagg_state(refreshed))


def q_stream_upsert_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC correction stream under the oracle
    (streaming.run_correction_stream): micro-batch 1 inserts a CORRUPTED
    copy of every events-as-sequences row (tokens +7777), micro-batch 2
    streams the corrections — true-value upserts for surviving rows and
    DELETEs for event_id % 101 == 0.  Each batch lands on the raw table
    by key (replace-by-doc_id / delete-by-doc_id, only touched source
    partitions rewritten) and its invalidation log drives a targeted
    refresh of the stored continuous aggregate.  The stored end state
    must value-hash-equal a plain GROUP BY over the corrected raw in
    DuckDB — upserts un-counted, deleted docs gone, which no append-only
    fold can express."""
    import tempfile

    from ..catalog import Catalog
    from ..streaming import drain, run_correction_stream

    seq = _events_as_sequences(spark, sf_dir)
    kill = F.col("doc_id").cast("long") % 101 == 0
    cols = ["doc_id", "tokens", "n_tok", "source", "time_bucket", "op"]
    corrupted = (
        seq.withColumn("tokens", F.transform("tokens", lambda t: t + 7777))
        .withColumn("n_tok", F.size("tokens"))
        .withColumn("op", F.lit("upsert"))
        .select(cols)
    )
    fixes = (
        seq.where(~kill)
        .withColumn("n_tok", F.size("tokens"))
        .withColumn("op", F.lit("upsert"))
        .select(cols)
    )
    deletes = (
        seq.where(kill)
        .withColumn("tokens", F.lit(None).cast("array<int>"))
        .withColumn("n_tok", F.lit(None).cast("int"))
        .withColumn("time_bucket", F.lit(None).cast("long"))
        .withColumn("op", F.lit("delete"))
        .select(cols)
    )
    with tempfile.TemporaryDirectory(
        prefix="tb_upsert_refresh_", ignore_cleanup_errors=True
    ) as work:
        ops_dir = f"{work}/ops"
        # phase files are ordered by modification time (FileStreamSource
        # processes (timestamp, path) ascending); keys are disjoint
        # WITHIN a phase, so intra-phase file order is immaterial
        corrupted.repartition(2).write.parquet(ops_dir)
        fixes.unionByName(deletes).repartition(2).write.parquet(
            ops_dir, mode="append"
        )
        drain(
            run_correction_stream(
                spark, ops_dir, f"{work}/wh", raw_table="raw",
                cagg_table="cagg", max_files_per_trigger=2,
            ),
            "stream",
        )
        return pin(_cagg_state(Catalog(spark, f"{work}/wh").read("cagg")))


_CONT_AGG_CORRECTED = """
SELECT event_type AS source,
       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS time_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_sum,
       CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_min,
       CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_max
FROM events WHERE event_id % 101 <> 0 GROUP BY 1, 2
"""


def q_serve_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving layer under the oracle: materialize an avg pyramid
    only to tier 1, then ask ``serving.read_series`` for resolution
    w^2 = 16 — the planner routes to the coarsest materialized tier (1)
    and extends ONE residual step in-flight with the same persisted-
    accumulator kernel the builder uses.  The served series must
    value-hash-equal the tier-2 oracle (_AVG_T2) — i.e. be identical to
    a pyramid that HAD been materialized two tiers deep.  (Until r04d
    serving was only pytest-pinned; this puts the route-and-extend path
    behind the driver gate.)

    Scale shape: tier 1 holds w times fewer points than raw, the
    source/time predicates (none here) hit the tier scan before the
    UDF, and the residual step is one mapInArrow pass over the served
    slice only."""
    import tempfile

    from ..rollup import RollupConfig, RollupEngine
    from ..serving import read_series

    tt = token_table(spark, sf_dir)
    base = tt.select(
        F.col("user_id").cast("string").alias("doc_id"),
        "tokens",
        F.size("tokens").alias("n_tok"),
        # spread the pyramid over real partitions: source is the
        # engine's partition key
        (F.col("user_id") % 8).cast("string").alias("source"),
        F.col("user_id").cast("long").alias("time_bucket"),
    )
    with tempfile.TemporaryDirectory(
        prefix="tb_serve_", ignore_cleanup_errors=True
    ) as work:
        engine = RollupEngine(spark, work)
        cfg = RollupConfig(
            kernel="avg", window=4, num_tiers=1, run_kind="serve_q"
        )
        engine.run_pyramid(base, cfg)
        served = read_series(engine, cfg, base, resolution=16)
        out = served.select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.posexplode("tokens").alias("pos", "token"),
        ).select(
            "user_id",
            F.col("pos").cast("long").alias("pos"),
            F.col("token").cast("long").alias("token"),
        )
        return pin(out)


def q_retention_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention enforcement under the oracle: materialize tier 1 of an
    avg pyramid, enforce a keep-the-newest-half policy
    (retention.enforce_retention — partition-level rewrite of touched
    sources only, cutoff measured from the data horizon so the drop is
    real at EVERY scale factor), and return the SURVIVING tier rows.
    The result must value-hash-equal the tier-1 oracle restricted to
    the same cutoff — i.e. enforcement dropped exactly the expired
    buckets and nothing else.  (Until r04d retention was only
    pytest-pinned; this grades it in the driver.)"""
    import tempfile

    from ..retention import RetentionPolicy, enforce_retention
    from ..rollup import RollupConfig, RollupEngine

    tt = token_table(spark, sf_dir)
    base = tt.select(
        F.col("user_id").cast("string").alias("doc_id"),
        "tokens",
        F.size("tokens").alias("n_tok"),
        (F.col("user_id") % 8).cast("string").alias("source"),
        F.col("user_id").cast("long").alias("time_bucket"),
    )
    with tempfile.TemporaryDirectory(
        prefix="tb_retention_q_", ignore_cleanup_errors=True
    ) as work:
        engine = RollupEngine(spark, work)
        cfg = RollupConfig(
            kernel="avg", window=4, num_tiers=1, run_kind="ret_q"
        )
        engine.run_pyramid(base, cfg)
        # keep the newest half of the bucket domain: cutoff == mx // 2
        mx = int(base.agg(F.max("time_bucket")).first()[0])
        enforce_retention(
            engine.catalog,
            cfg.name(1),
            tier=1,
            policy=RetentionPolicy({1: mx - mx // 2 + 1}),
            newest_bucket=mx,
        )
        survivors = engine.read_tier(cfg, 1)
        out = survivors.select(
            F.col("doc_id").cast("long").alias("user_id"),
            F.posexplode("tokens").alias("pos", "token"),
        ).select(
            "user_id",
            F.col("pos").cast("long").alias("pos"),
            F.col("token").cast("long").alias("token"),
        )
        return pin(out)


# tier-1 oracle restricted to the retention window: time_bucket is the
# user id in this fixture, so the data horizon is max(user_id) and the
# keep-newest-half cutoff is max // 2 (both integer floor)
_RETENTION_T1 = SEQ_CTE + """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(pos // 4 AS BIGINT) AS pos,
       CAST(sum(tok) // 4 AS BIGINT) AS token
FROM seq
WHERE user_id >= (SELECT max(user_id) // 2 FROM seq)
GROUP BY user_id, pos // 4
"""


def q_cagg_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical continuous aggregate: the DAILY rollup derived from
    the stored HOURLY states (combine_states over the coarser key) —
    never from raw.  Sum-mergeable state is closed under re-bucketing,
    so the derived daily table must equal a direct daily GROUP BY over
    raw events — the property that lets a 100 TB pipeline maintain one
    fine cagg and serve every coarser granularity from it (hourly is
    ~3000x smaller than raw; the daily derivation shuffles only cagg
    rows)."""
    from ..aggregates import aggregate_batch, combine_states

    hourly = aggregate_batch(_events_as_sequences(spark, sf_dir))
    daily = combine_states(
        hourly.withColumn(
            "time_bucket",
            (F.col("time_bucket") - F.pmod(F.col("time_bucket"), 86400))
            .cast("long"),
        )
    )
    return _cagg_state(daily)


_CONT_AGG_DAILY = """
SELECT event_type AS source,
       CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS time_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_sum,
       CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_min,
       CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_max
FROM events GROUP BY 1, 2
"""


M4_ID_BITS = 24  # event_id fits 24 bits to sf>=1 (16.7M events/table)


def q_m4_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB 2014): per
    (event_type, hour) keep the four extremal samples — first, last,
    min-value, max-value — the error-free decimation for line-chart
    rendering.  Selection is encoded as integer min/max over
    ``key = ord * 2^24 + event_id`` (deterministic tie-break by id,
    id bounded 24 bits), so the WHOLE op is one map-side-combinable
    groupBy: no window, no sort, one exchange — the cheapest possible
    shape at any scale.  Encoded keys assume a non-negative value
    domain (events.value >= 0); signed series would first add a
    constant offset (DIV/% disagree across engines below zero).

    Both encoding preconditions are RUNTIME-GUARDED (ADVICE r03): an
    event_id outside [0, 2^24) or a negative v raises instead of
    silently decoding wrong ids/extrema — two codegen'd comparisons on
    the scan, no extra pass."""
    shift = 1 << M4_ID_BITS
    raw = load_table(spark, sf_dir, "events")
    guard_id = F.col("event_id").cast("long")
    guard_v = F.floor(F.col("value") * 100).cast("long")
    ev = raw.select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        F.unix_timestamp("ts").alias("t"),
        F.when(guard_v >= 0, guard_v)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("q_m4_decimate: negative value breaks the "
                          "min/max key encoding: "),
                    guard_v.cast("string"),
                )
            ).cast("long")
        )
        .alias("v"),
        F.when(guard_id.between(0, shift - 1), guard_id)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"q_m4_decimate: event_id outside [0, 2^"
                          f"{M4_ID_BITS}) id domain: "),
                    guard_id.cast("string"),
                )
            ).cast("long")
        )
        .alias("event_id"),
    )
    tkey = F.col("t") * shift + F.col("event_id")
    vkey = F.col("v") * shift + F.col("event_id")
    agg = ev.groupBy("event_type", "hb").agg(
        F.count("*").cast("long").alias("n"),
        F.min(tkey).alias("_fk"),
        F.max(tkey).alias("_lk"),
        F.min(vkey).alias("_mink"),
        F.max(vkey).alias("_maxk"),
    )
    return agg.select(
        "event_type",
        F.col("hb").cast("long").alias("hb"),
        "n",
        (F.col("_fk") % shift).cast("long").alias("first_id"),
        (F.col("_lk") % shift).cast("long").alias("last_id"),
        (F.col("_mink") % shift).cast("long").alias("min_id"),
        (F.col("_maxk") % shift).cast("long").alias("max_id"),
        F.expr(f"_mink DIV {shift}").cast("long").alias("v_min"),
        F.expr(f"_maxk DIV {shift}").cast("long").alias("v_max"),
    )


_M4_DECIMATE = f"""
WITH ev AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(floor(value * 100) AS BIGINT) AS v,
         CAST(event_id AS BIGINT) AS event_id
  FROM events
)
SELECT event_type, hb,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(t * {1 << M4_ID_BITS} + event_id) % {1 << M4_ID_BITS}
            AS BIGINT) AS first_id,
       CAST(max(t * {1 << M4_ID_BITS} + event_id) % {1 << M4_ID_BITS}
            AS BIGINT) AS last_id,
       CAST(min(v * {1 << M4_ID_BITS} + event_id) % {1 << M4_ID_BITS}
            AS BIGINT) AS min_id,
       CAST(max(v * {1 << M4_ID_BITS} + event_id) % {1 << M4_ID_BITS}
            AS BIGINT) AS max_id,
       CAST(min(v * {1 << M4_ID_BITS} + event_id) // {1 << M4_ID_BITS}
            AS BIGINT) AS v_min,
       CAST(max(v * {1 << M4_ID_BITS} + event_id) // {1 << M4_ID_BITS}
            AS BIGINT) AS v_max
FROM ev GROUP BY event_type, hb
"""


OHLC_V_BITS = 24  # centi-values fit 24 bits (value < 167772.16)


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars: per (event_type, hour) the opening value
    (earliest event), closing value (latest event), high, low, count
    and volume — the classic financial downsample.  Open/close reuse
    the M4 trick: encode ``t * 2^24 + v`` so min/max of ONE bigint
    select the extreme-time row and decode its value — the whole bar
    is a map-side-combinable groupBy, no window, no sort, one
    exchange.  Equal-time ties resolve to the smaller value for open
    and the larger for close (min/max over the encoded key —
    deterministic, mirrored exactly by the oracle).  Value domain is
    runtime-guarded into [0, 2^24) like q_m4_decimate."""
    shift = 1 << OHLC_V_BITS
    raw = load_table(spark, sf_dir, "events")
    guard_v = F.floor(F.col("value") * 100).cast("long")
    ev = raw.select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hb"),
        F.unix_timestamp("ts").alias("t"),
        F.when(guard_v.between(0, shift - 1), guard_v)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"q_ohlc_bars: value outside [0, 2^"
                          f"{OHLC_V_BITS}) centi-value domain: "),
                    guard_v.cast("string"),
                )
            ).cast("long")
        )
        .alias("v"),
    )
    enc = F.col("t") * shift + F.col("v")
    agg = ev.groupBy("event_type", "hb").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("volume"),
        F.min(enc).alias("_ok"),
        F.max(enc).alias("_ck"),
        F.min("v").cast("long").alias("low_v"),
        F.max("v").cast("long").alias("high_v"),
    )
    return agg.select(
        "event_type",
        F.col("hb").cast("long").alias("hb"),
        "n",
        "volume",
        (F.col("_ok") % shift).cast("long").alias("open_v"),
        (F.col("_ck") % shift).cast("long").alias("close_v"),
        "high_v",
        "low_v",
    )


_OHLC_BARS = f"""
WITH ev AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hb,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(floor(value * 100) AS BIGINT) AS v
  FROM events
)
SELECT event_type, hb,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v) AS BIGINT) AS volume,
       CAST(min(t * {1 << OHLC_V_BITS} + v) % {1 << OHLC_V_BITS}
            AS BIGINT) AS open_v,
       CAST(max(t * {1 << OHLC_V_BITS} + v) % {1 << OHLC_V_BITS}
            AS BIGINT) AS close_v,
       CAST(max(v) AS BIGINT) AS high_v,
       CAST(min(v) AS BIGINT) AS low_v
FROM ev GROUP BY event_type, hb
"""


_NATIVE_RES_SHIFT = 1 << 40  # mode argmax encoding: cnt*2^40 + (2^40-1-ds)


def q_native_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant sampling interval per event type — the tier-planner
    readout a rollup engine consults BEFORE choosing retention-tier
    widths (a stream natively ticking every ~17 min makes a 60 s
    first tier pure gap-fill; one ticking sub-second wants it).
    Output per type: the modal whole-second inter-arrival delta
    (ties -> smallest delta), its count, total deltas, and the
    dominance share in permille.

    Scale shape: deltas come from the day-bounded stitched lag
    (`_stitched_deltas` — no one-task type-history sort), collapse to
    (type, delta_s) counts in ONE map-side-combinable groupBy, and
    the mode is the q_m4_decimate argmax-encoding idiom
    max(cnt * 2^40 + (2^40-1 - delta_s)) — a second map-side-
    combinable groupBy, never a window.  Encoding domain: delta_s <
    2^40 (~35k years) is structural; the per-(type, delta_s) count
    < 2^23 bound is RUNTIME-GUARDED so an overflow raises with an
    actionable message instead of ANSI's generic one."""
    d = _stitched_deltas(spark, sf_dir).select(
        "source", F.expr("delta DIV 1000000").alias("delta_s")
    )
    g = d.groupBy("source", "delta_s").agg(
        F.count("*").cast("long").alias("cnt")
    )
    cnt = F.when(F.col("cnt") < (1 << 23), F.col("cnt")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "q_native_resolution: per-(type, delta_s) count "
                    ">= 2^23 breaks the mode argmax encoding: "
                ),
                F.col("cnt").cast("string"),
            )
        ).cast("long")
    )
    enc = g.groupBy("source").agg(
        F.max(
            cnt * F.lit(_NATIVE_RES_SHIFT)
            + (F.lit(_NATIVE_RES_SHIFT - 1) - F.col("delta_s"))
        ).alias("e"),
        F.sum("cnt").cast("long").alias("n_deltas"),
    )
    return enc.select(
        "source",
        (F.lit(_NATIVE_RES_SHIFT - 1) - F.pmod(F.col("e"), F.lit(_NATIVE_RES_SHIFT)))
        .cast("long")
        .alias("dominant_delta_s"),
        F.expr(f"e DIV {_NATIVE_RES_SHIFT}").cast("long").alias("n_dominant"),
        "n_deltas",
        F.expr(f"(e DIV {_NATIVE_RES_SHIFT}) * 1000 DIV n_deltas")
        .cast("long")
        .alias("share_ppt"),
    )


_NATIVE_RESOLUTION = f"""
WITH e AS (
  SELECT event_type AS source, epoch_us(ts) AS us, event_id FROM events
), d AS (
  SELECT source,
         (us - lag(us) OVER (PARTITION BY source ORDER BY us, event_id))
           // 1000000 AS delta_s
  FROM e
), g AS (
  SELECT source, delta_s, CAST(count(*) AS BIGINT) AS cnt
  FROM d WHERE delta_s IS NOT NULL GROUP BY 1, 2
), enc AS (
  SELECT source,
         max(cnt * {_NATIVE_RES_SHIFT}
             + ({_NATIVE_RES_SHIFT - 1} - delta_s)) AS e,
         sum(cnt) AS n_deltas
  FROM g GROUP BY source
)
SELECT source,
       CAST({_NATIVE_RES_SHIFT - 1} - (e % {_NATIVE_RES_SHIFT}) AS BIGINT)
         AS dominant_delta_s,
       CAST(e // {_NATIVE_RES_SHIFT} AS BIGINT) AS n_dominant,
       CAST(n_deltas AS BIGINT) AS n_deltas,
       CAST((e // {_NATIVE_RES_SHIFT}) * 1000 // n_deltas AS BIGINT)
         AS share_ppt
FROM enc
"""


# canonical retention-tier width ladder, seconds (1s .. 1h)
TIER_LADDER_S = (1, 5, 15, 60, 300, 900, 3600)


def q_tier_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-tier width recommendation per event type — the planner
    that turns q_native_resolution's census into a concrete retention
    config: the smallest canonical ladder width (1s..1h) at least as
    coarse as the stream's dominant inter-arrival delta (a tier finer
    than the native cadence is pure gap-fill), plus the storage
    consequences: dense points/day at that width, observed raw
    points/day, the stored estimate (a sparse tier never exceeds the
    raw cadence), and the saving permille.

    Scale shape: composes q_native_resolution (day-bounded stitched
    lag, two map-side-combinable groupBys) with ONE more per-source
    aggregate over the events scan (count + min/max day — map-side
    combinable, |sources| rows out); the two <= |sources|-row tables
    join broadcast.  The ladder pick is a flat 7-branch CASE in
    WholeStageCodegen — never a lambda/array scan.  All-integer
    output, so the oracle hash is float-noise-proof."""
    dom = q_native_resolution(spark, sf_dir).select(
        "source", "dominant_delta_s"
    )
    raw = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("source"),
            F.expr(f"unix_micros(cast(ts as timestamp)) DIV {DAY_US}").alias(
                "day"
            ),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("day").alias("d0"),
            F.max("day").alias("d1"),
        )
        .select(
            "source",
            F.expr("greatest(1L, n_events DIV (d1 - d0 + 1))").alias(
                "raw_ppd"
            ),
        )
    )
    ladder = "CASE " + " ".join(
        f"WHEN dominant_delta_s <= {w} THEN {w}L" for w in TIER_LADDER_S[:-1]
    ) + f" ELSE {TIER_LADDER_S[-1]}L END"
    return (
        dom.join(F.broadcast(raw), "source")
        .withColumn("rec_width_s", F.expr(ladder))
        .select(
            "source",
            F.col("dominant_delta_s").cast("long").alias("dominant_delta_s"),
            "rec_width_s",
            F.expr("86400 DIV rec_width_s").cast("long").alias("dense_ppd"),
            F.col("raw_ppd").cast("long").alias("raw_ppd"),
            F.expr("least(86400 DIV rec_width_s, raw_ppd)")
            .cast("long")
            .alias("est_ppd"),
            F.expr(
                "(raw_ppd - least(86400 DIV rec_width_s, raw_ppd)) * 1000 "
                "DIV raw_ppd"
            )
            .cast("long")
            .alias("saving_ppt"),
        )
    )


def _tier_plan_sql() -> str:
    ladder = "CASE " + " ".join(
        f"WHEN dominant_delta_s <= {w} THEN {w}" for w in TIER_LADDER_S[:-1]
    ) + f" ELSE {TIER_LADDER_S[-1]} END"
    return f"""
WITH nr AS ({_NATIVE_RESOLUTION}),
raw AS (
  SELECT event_type AS source,
         greatest(1, CAST(count(*) AS BIGINT)
                     // (max(epoch_us(ts) // {DAY_US})
                         - min(epoch_us(ts) // {DAY_US}) + 1)) AS raw_ppd
  FROM events GROUP BY 1
), j AS (
  SELECT nr.source, nr.dominant_delta_s, raw.raw_ppd,
         CAST({ladder} AS BIGINT) AS rec_width_s
  FROM nr JOIN raw ON nr.source = raw.source
)
SELECT source, CAST(dominant_delta_s AS BIGINT) AS dominant_delta_s,
       rec_width_s,
       CAST(86400 // rec_width_s AS BIGINT) AS dense_ppd,
       CAST(raw_ppd AS BIGINT) AS raw_ppd,
       CAST(least(86400 // rec_width_s, raw_ppd) AS BIGINT) AS est_ppd,
       CAST((raw_ppd - least(86400 // rec_width_s, raw_ppd)) * 1000
            // raw_ppd AS BIGINT) AS saving_ppt
FROM j
"""


_TILE = 16  # 16x16 cells per tile (fits even the sf0.001 events table)


def _tile_cells(spark, sf_dir) -> DataFrame:
    """Deterministic dense tiles carved out of the events table:
    event_id e -> tile e // 4096, row (e % 4096) // 64, col e % 64.
    Only complete tiles are kept, so every tile is dense 64x64.

    The complete-tile bound is a broadcast 1-row aggregate joined into
    the same job — not a driver-side count() action (VERDICT r01 #10)."""
    ev = load_table(spark, sf_dir, "events")
    bound = ev.agg(
        (F.floor(F.count("*") / (_TILE * _TILE)) * (_TILE * _TILE)).alias(
            "n_full"
        )
    )
    return ev.crossJoin(F.broadcast(bound)).where(
        F.col("event_id") < F.col("n_full")
    ).select(
        (F.col("event_id") / (_TILE * _TILE)).cast("long").alias("tile_id"),
        ((F.col("event_id") % (_TILE * _TILE)) / _TILE).cast("int").alias("r"),
        (F.col("event_id") % _TILE).cast("int").alias("c"),
        _tok_expr().cast("int").alias("tok"),
    )


def _tile_query(kernel, num_tiers: int = 1):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..tiles import tile_pool

        out = tile_pool(
            _tile_cells(spark, sf_dir), kernel=kernel, num_tiers=num_tiers
        )
        return out.select(
            "tile_id",
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            F.col("token").cast("long").alias("token"),
        )

    return q


_TILE_CTE = f"""
WITH cells AS (
  SELECT event_id // 256 AS tile_id,
         (event_id % 256) // 16 AS r,
         event_id % 16 AS c,
         ((event_id % 65521) * 31 + 7) % 256 AS tok
  FROM events
  WHERE event_id < (SELECT (count(*) // 256) * 256 FROM events)
)
"""

_TILE_AVG = _TILE_CTE + """
SELECT CAST(tile_id AS BIGINT) AS tile_id,
       CAST(r // 2 AS BIGINT) AS i,
       CAST(c // 2 AS BIGINT) AS j,
       CAST(sum(tok) // 4 AS BIGINT) AS token
FROM cells GROUP BY tile_id, r // 2, c // 2
"""

# tier 2 of the 2-D multi-mip accumulator: 4x4 block sum >> 4 (shift
# 2(m+1), m=1 — no renorm before the shift-8 boundary)
_TILE_AVG_T2 = _TILE_CTE + """
SELECT CAST(tile_id AS BIGINT) AS tile_id,
       CAST(r // 4 AS BIGINT) AS i,
       CAST(c // 4 AS BIGINT) AS j,
       CAST(sum(tok) // 16 AS BIGINT) AS token
FROM cells GROUP BY tile_id, r // 4, c // 4
"""

# tier 2 mode-of-modes: countless over the tier-1 countless outputs
# (downsample.py:215-217), scan order a=(0,0) b=(1,0) c=(0,1) d=(1,1)
_TILE_MODE_T2 = _TILE_CTE + """
, win AS (
  SELECT tile_id, r // 2 AS i, c // 2 AS j,
         max(CASE WHEN r % 2 = 0 AND c % 2 = 0 THEN tok END) AS a,
         max(CASE WHEN r % 2 = 1 AND c % 2 = 0 THEN tok END) AS b,
         max(CASE WHEN r % 2 = 0 AND c % 2 = 1 THEN tok END) AS c_,
         max(CASE WHEN r % 2 = 1 AND c % 2 = 1 THEN tok END) AS d
  FROM cells GROUP BY tile_id, r // 2, c // 2
), t1 AS (
  SELECT tile_id, i, j,
         CASE WHEN a = b OR a = c_ THEN a
              WHEN b = c_ THEN b ELSE d END AS tok
  FROM win
), win2 AS (
  SELECT tile_id, i // 2 AS i, j // 2 AS j,
         max(CASE WHEN i % 2 = 0 AND j % 2 = 0 THEN tok END) AS a,
         max(CASE WHEN i % 2 = 1 AND j % 2 = 0 THEN tok END) AS b,
         max(CASE WHEN i % 2 = 0 AND j % 2 = 1 THEN tok END) AS c_,
         max(CASE WHEN i % 2 = 1 AND j % 2 = 1 THEN tok END) AS d
  FROM t1 GROUP BY tile_id, i // 2, j // 2
)
SELECT CAST(tile_id AS BIGINT) AS tile_id,
       CAST(i AS BIGINT) AS i,
       CAST(j AS BIGINT) AS j,
       CAST(CASE WHEN a = b OR a = c_ THEN a
                 WHEN b = c_ THEN b ELSE d END AS BIGINT) AS token
FROM win2
"""

# countless over the (x, y) scan order: a=(0,0) b=(1,0) c=(0,1) d=(1,1)
# with x = row axis (accelerated.hpp:1026-1030)
_TILE_MODE = _TILE_CTE + """
, win AS (
  SELECT tile_id, r // 2 AS i, c // 2 AS j,
         max(CASE WHEN r % 2 = 0 AND c % 2 = 0 THEN tok END) AS a,
         max(CASE WHEN r % 2 = 1 AND c % 2 = 0 THEN tok END) AS b,
         max(CASE WHEN r % 2 = 0 AND c % 2 = 1 THEN tok END) AS c_,
         max(CASE WHEN r % 2 = 1 AND c % 2 = 1 THEN tok END) AS d
  FROM cells GROUP BY tile_id, r // 2, c // 2
)
SELECT CAST(tile_id AS BIGINT) AS tile_id,
       CAST(i AS BIGINT) AS i,
       CAST(j AS BIGINT) AS j,
       CAST(CASE WHEN a = b OR a = c_ THEN a
                 WHEN b = c_ THEN b ELSE d END AS BIGINT) AS token
FROM win
"""


def q_gorilla_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla under the HARD oracle gate: encode the hourly continuous
    aggregate into blobs, decode the blobs back into point rows —
    the result must value-hash-match the plain aggregate the oracle
    computes directly.  Exercises encoder + vectorized decoder + the
    chunked blob layout end-to-end."""
    from ..compress import decode_series_table, encode_series_table

    agg = q_continuous_agg(spark, sf_dir).select(
        "source", "time_bucket", "token_sum"
    )
    blobs = encode_series_table(agg, value_col="token_sum")
    return decode_series_table(blobs, value_col="token_sum").select(
        "source",
        F.col("time_bucket").cast("long").alias("time_bucket"),
        F.col("token_sum").cast("long").alias("token_sum"),
    )


_GORILLA_DECODE = """
SELECT event_type AS source,
       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS time_bucket,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS token_sum
FROM events GROUP BY 1, 2
"""


def q_gorilla_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla encode the hourly continuous aggregate per source and
    verify decode==input inside the job (rows-only driver check: the
    blob sizes aren't SQL-expressible)."""
    from ..compress import encode_series_table
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    agg = q_continuous_agg(spark, sf_dir)
    blobs = encode_series_table(agg, value_col="token_sum")

    schema = StructType(
        [
            StructField("source", StringType(), False),
            StructField("n_points", LongType(), False),
            StructField("raw_bytes", LongType(), False),
            StructField("blob_bytes", LongType(), False),
            StructField("roundtrip_ok", BooleanType(), False),
        ]
    )

    def _verify(batches):
        from .. import gorilla as G

        for pdf in batches:
            ok = []
            for blob in pdf["blob"]:
                try:
                    b, v = G.decode_series(bytes(blob))
                    ok.append(len(b) == len(v))
                except Exception:
                    ok.append(False)
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "n_points": pdf["n_points"].astype("int64"),
                    "raw_bytes": pdf["raw_bytes"].astype("int64"),
                    "blob_bytes": pdf["blob"].map(len).astype("int64"),
                    "roundtrip_ok": ok,
                }
            )

    return blobs.mapInPandas(_verify, schema)


def q_dod_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-of-delta compressibility census: per source, bucket every
    hourly count's second difference into the Gorilla timestamp bit
    classes (0 -> 1 bit, [-63,64] -> 9, [-255,256] -> 12,
    [-2047,2048] -> 16, else 36; Pelkonen et al. §4.1) and estimate
    total encoded bits — the planning operator that predicts a tier's
    compressed footprint BEFORE running the encoder (q_gorilla_*).

    Blocks are (source, day), mirroring Gorilla's aligned compression
    blocks: each day's first point is a 64-bit header and deltas never
    cross midnight, so every lag window is bounded by 24 rows — no
    per-source history sort, no stitch needed (block semantics ARE the
    operator).  One map-side-combinable groupBy(source) folds the
    census."""
    hourly = _hourly_counts(spark, sf_dir).withColumn(
        "day", F.expr("tb DIV 24")
    )
    w = Window.partitionBy("source", "day").orderBy("tb")
    d = (
        hourly.withColumn("rn", F.row_number().over(w))
        .withColumn("d1", F.col("n") - F.lag("n").over(w))
        .withColumn(
            "dod",
            F.col("d1") - F.coalesce(F.lag("d1").over(w), F.lit(0)),
        )
    )
    bits = F.when(F.col("rn") == 1, F.lit(64)).otherwise(
        F.when(F.col("dod") == 0, 1)
        .when((F.col("dod") >= -63) & (F.col("dod") <= 64), 9)
        .when((F.col("dod") >= -255) & (F.col("dod") <= 256), 12)
        .when((F.col("dod") >= -2047) & (F.col("dod") <= 2048), 16)
        .otherwise(36)
    )

    out = d.withColumn("bits", bits).groupBy("source").agg(
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("blocks"),
        F.count("*").cast("long").alias("points"),
        F.sum("bits").cast("long").alias("bits_total"),
        F.sum(
            F.when((F.col("rn") > 1) & (F.col("dod") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("c1"),
        F.sum(
            F.when(
                (F.col("rn") > 1)
                & (F.col("dod") != 0)
                & (F.col("dod") >= -63)
                & (F.col("dod") <= 64),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("c9"),
        F.sum(
            F.when(
                (F.col("rn") > 1)
                & ((F.col("dod") < -63) | (F.col("dod") > 64))
                & (F.col("dod") >= -255)
                & (F.col("dod") <= 256),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("c12"),
        F.sum(
            F.when(
                (F.col("rn") > 1)
                & ((F.col("dod") < -255) | (F.col("dod") > 256))
                & (F.col("dod") >= -2047)
                & (F.col("dod") <= 2048),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("c16"),
        F.sum(
            F.when(
                (F.col("rn") > 1)
                & ((F.col("dod") < -2047) | (F.col("dod") > 2048)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("c36"),
    )
    return out.withColumn(
        "bpp_milli", F.expr("(bits_total * 1000) DIV points").cast("long")
    )


_DOD_COMPRESS = """
WITH h AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS tb,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), s AS (
  SELECT source, tb, n, tb // 24 AS day FROM h
), d1 AS (
  SELECT source, day, tb, n,
         row_number() OVER (PARTITION BY source, day ORDER BY tb) AS rn,
         n - lag(n) OVER (PARTITION BY source, day ORDER BY tb) AS d1
  FROM s
), d2 AS (
  SELECT source, rn,
         d1 - coalesce(
           lag(d1) OVER (PARTITION BY source, day ORDER BY tb), 0) AS dod
  FROM d1
)
SELECT source,
  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS blocks,
  CAST(count(*) AS BIGINT) AS points,
  CAST(sum(CASE WHEN rn = 1 THEN 64
       WHEN dod = 0 THEN 1
       WHEN dod BETWEEN -63 AND 64 THEN 9
       WHEN dod BETWEEN -255 AND 256 THEN 12
       WHEN dod BETWEEN -2047 AND 2048 THEN 16
       ELSE 36 END) AS BIGINT) AS bits_total,
  CAST(sum(CASE WHEN rn > 1 AND dod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
  CAST(sum(CASE WHEN rn > 1 AND dod <> 0
       AND dod BETWEEN -63 AND 64 THEN 1 ELSE 0 END) AS BIGINT) AS c9,
  CAST(sum(CASE WHEN rn > 1 AND (dod < -63 OR dod > 64)
       AND dod BETWEEN -255 AND 256 THEN 1 ELSE 0 END) AS BIGINT) AS c12,
  CAST(sum(CASE WHEN rn > 1 AND (dod < -255 OR dod > 256)
       AND dod BETWEEN -2047 AND 2048 THEN 1 ELSE 0 END) AS BIGINT) AS c16,
  CAST(sum(CASE WHEN rn > 1 AND (dod < -2047 OR dod > 2048)
       THEN 1 ELSE 0 END) AS BIGINT) AS c36,
  CAST(sum(CASE WHEN rn = 1 THEN 64
       WHEN dod = 0 THEN 1
       WHEN dod BETWEEN -63 AND 64 THEN 9
       WHEN dod BETWEEN -255 AND 256 THEN 12
       WHEN dod BETWEEN -2047 AND 2048 THEN 16
       ELSE 36 END) * 1000 // count(*) AS BIGINT) AS bpp_milli
FROM d2 GROUP BY source
"""

RETENTION_RAW_DAYS = 7  # raw points survive this many days
RETENTION_HOURLY_DAYS = 21  # then hourly rollups, then daily forever


def q_retention_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention sweeper's work plan: for every (source, day)
    partition, which tier the policy keeps (raw < 7d old, hourly < 21d,
    daily after) and how many rows each downsample step reclaims — the
    metadata query a tiered-retention engine (the reference's pyramid,
    TimescaleDB's drop_chunks) runs before every compaction sweep.

    Scale shape: one map-side-combinable groupBy(source, day) over a
    two-column projection builds the partition census (raw points +
    distinct hours via exact count_distinct inside the same agg); the
    as-of watermark is a broadcast 1-row aggregate, so the plan is one
    exchange on (source, day) — partition metadata at 100 TB is
    millions of rows, not billions, and the census columns prune to
    exactly (event_type, ts) at the scan."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("source"),
        F.expr(
            "CAST(floor(unix_timestamp(date_trunc('hour', ts)) / 3600)"
            " AS BIGINT)"
        ).alias("tb"),
    )
    census = ev.groupBy(
        "source", F.expr("tb DIV 24").alias("day")
    ).agg(
        F.count("*").cast("long").alias("n_raw"),
        F.countDistinct("tb").cast("long").alias("n_hours"),
    )
    # the census is partition METADATA (millions of rows at 100 TB,
    # not billions) — pin it so the as-of watermark and the sweep plan
    # both read it without a second full scan of events
    census = pin(census)
    as_of = census.agg(F.max("day").alias("as_of"))
    aged = census.crossJoin(F.broadcast(as_of)).withColumn(
        "age_days", (F.col("as_of") - F.col("day")).cast("long")
    )
    action = (
        F.when(F.col("age_days") < RETENTION_RAW_DAYS, F.lit("keep_raw"))
        .when(F.col("age_days") < RETENTION_HOURLY_DAYS, F.lit("hourly"))
        .otherwise(F.lit("daily"))
    )
    rows_kept = (
        F.when(F.col("age_days") < RETENTION_RAW_DAYS, F.col("n_raw"))
        .when(F.col("age_days") < RETENTION_HOURLY_DAYS, F.col("n_hours"))
        .otherwise(F.lit(1))
    )
    return aged.select(
        "source",
        F.col("day").cast("long").alias("day"),
        F.col("age_days"),
        action.alias("action"),
        F.col("n_raw"),
        rows_kept.cast("long").alias("rows_kept"),
        (F.col("n_raw") - rows_kept).cast("long").alias("rows_reclaimed"),
    )


_RETENTION_POLICY = f"""
WITH ev AS (
  SELECT event_type AS source,
         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS tb
  FROM events
), census AS (
  SELECT source, tb // 24 AS day,
         CAST(count(*) AS BIGINT) AS n_raw,
         CAST(count(DISTINCT tb) AS BIGINT) AS n_hours
  FROM ev GROUP BY 1, 2
), aged AS (
  SELECT *, (SELECT max(day) FROM census) - day AS age_days FROM census
)
SELECT source, CAST(day AS BIGINT) AS day,
       CAST(age_days AS BIGINT) AS age_days,
       CASE WHEN age_days < {RETENTION_RAW_DAYS} THEN 'keep_raw'
            WHEN age_days < {RETENTION_HOURLY_DAYS} THEN 'hourly'
            ELSE 'daily' END AS action,
       n_raw,
       CAST(CASE WHEN age_days < {RETENTION_RAW_DAYS} THEN n_raw
            WHEN age_days < {RETENTION_HOURLY_DAYS} THEN n_hours
            ELSE 1 END AS BIGINT) AS rows_kept,
       CAST(n_raw - CASE WHEN age_days < {RETENTION_RAW_DAYS} THEN n_raw
            WHEN age_days < {RETENTION_HOURLY_DAYS} THEN n_hours
            ELSE 1 END AS BIGINT) AS rows_reclaimed
FROM aged
"""


def q_tier_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-fidelity report: how much information the lossy avg
    pyramid destroys, per tier — the QA census a tiered timeseries
    store publishes next to its retention policy (q_retention_policy
    decides WHEN a tier serves; this measures WHAT serving it costs).
    For tiers 1 and 2 of the production w=4 avg pyramid
    (reference downsample.py:75 semantics, the q_avg_rollup_t1/_t2
    renders), every raw point is compared against the tier value that
    would serve it (tier t covers 4^t raw slots): per tier we report
    points compared, total and max absolute error, and mean relative
    error in permille (sum_abs_err * 1000 DIV sum of raw values —
    all-integer; tokens are non-negative so truncation == floor both
    engines).  Renders go through the REAL pooling kernel
    (udfs.pool_tier -> kernels.avg_pool), not a SQL re-derivation —
    the oracle independently recomputes the render arithmetically, so
    this is also an end-to-end conformance check of the production
    path against raw data.

    Scale shape: the per-user sequence table is built once (one hash
    exchange, the hot-key cap bounding every group); raw points
    explode from it in-row; each tier's render joins raw on the
    (user_id, window) pair — an 8+8-byte composite key carrying only
    small ints; the per-tier census folds map-side to ONE row per
    tier.  Window counts per user are bounded by MAX_SEQ, so no join
    side ever skews past the cap."""
    tt = token_table(spark, sf_dir)
    tt = pin(tt)  # one sequence build feeds raw + 2 renders
    raw = tt.select(
        "user_id", F.posexplode("tokens").alias("pos", "tok")
    )
    out = []
    for tier in (1, 2):
        w = 4**tier
        pooled = _explode_pooled(
            _pooled(tt, "user_id", "avg", 4, tier, False), "tokens"
        ).withColumnRenamed("pos", "opos").withColumnRenamed(
            "token", "render"
        )
        j = raw.join(
            pooled,
            (raw.user_id == pooled.user_id)
            & ((raw.pos / w).cast("long") == pooled.opos),
        ).select(
            F.abs(F.col("tok") - F.col("render")).alias("aerr"),
            "tok",
        )
        out.append(
            j.agg(
                F.lit(tier).cast("long").alias("tier"),
                F.count("*").cast("long").alias("n_points"),
                F.sum("aerr").cast("long").alias("sum_abs_err"),
                F.max("aerr").cast("long").alias("max_abs_err"),
                F.expr(
                    "sum(aerr) * 1000 DIV greatest(sum(tok), 1)"
                ).alias("err_permille"),
            )
        )
    return out[0].unionByName(out[1])


_TIER_FIDELITY = SEQ_CTE + """
, t1 AS (
  SELECT user_id, pos // 4 AS opos, sum(tok) // 4 AS render
  FROM seq GROUP BY 1, 2
), t2 AS (
  SELECT user_id, pos // 16 AS opos, sum(tok) // 16 AS render
  FROM seq GROUP BY 1, 2
), e1 AS (
  SELECT abs(s.tok - t.render) AS aerr, s.tok
  FROM seq s JOIN t1 t ON s.user_id = t.user_id AND s.pos // 4 = t.opos
), e2 AS (
  SELECT abs(s.tok - t.render) AS aerr, s.tok
  FROM seq s JOIN t2 t ON s.user_id = t.user_id AND s.pos // 16 = t.opos
)
SELECT CAST(1 AS BIGINT) AS tier,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(aerr) AS BIGINT) AS sum_abs_err,
       CAST(max(aerr) AS BIGINT) AS max_abs_err,
       CAST(sum(aerr) * 1000 // greatest(sum(tok), 1) AS BIGINT)
         AS err_permille
FROM e1
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       CAST(sum(aerr) AS BIGINT), CAST(max(aerr) AS BIGINT),
       CAST(sum(aerr) * 1000 // greatest(sum(tok), 1) AS BIGINT)
FROM e2
"""


def q_haar_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reversible integer Haar (S-transform) tier pyramid over the token
    sequences: three lifting levels of s = (a+b) DIV 2, d = a-b per
    pair, emitting the per-user detail-energy census (sum |d| per level)
    plus the coarsest approximation mass — the planning operator that
    tells the tier encoder how much signal each pyramid level holds
    BEFORE materializing it (the wavelet analog of the reference's
    averaging pyramid, tinybrain downsample.py:101's 2x reduce chain,
    but exactly invertible: a = s + ((d+1) >> 1), b = a - d).

    Everything is in-row array arithmetic (transform/aggregate over the
    already-collected sequence arrays) — ZERO additional exchanges
    beyond token_table's one groupBy; sequence lengths are multiples of
    16 by construction so all three levels pair cleanly.  Plain-integer
    lambdas only (the r05h md5-in-HOF rule does not apply).  Inversion
    is pinned bit-exact in tests/test_r05f_ops.py."""
    def _s(col):  # lifting approximations: (a + b) DIV 2 per pair
        return F.expr(
            f"transform(sequence(1, size({col}) DIV 2), i -> "
            f"(element_at({col}, int(2*i-1)) + element_at({col}, int(2*i)))"
            " DIV 2)"
        )

    def _d(col):  # lifting details: a - b per pair
        return F.expr(
            f"transform(sequence(1, size({col}) DIV 2), i -> "
            f"element_at({col}, int(2*i-1)) - element_at({col}, int(2*i)))"
        )

    tt = token_table(spark, sf_dir).where(F.size("tokens") >= TRUNC)
    lv1 = tt.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.size("tokens").cast("long").alias("n_tokens"),
        _s("tokens").alias("s1"),
        _d("tokens").alias("d1"),
    )
    lv2 = lv1.withColumns({"s2": _s("s1"), "d2": _d("s1")})
    lv3 = lv2.withColumns({"s3": _s("s2"), "d3": _d("s2")})
    absum = "aggregate({0}, 0L, (a, x) -> a + abs(x))"
    return lv3.select(
        "user_id",
        "n_tokens",
        F.expr(absum.format("d1")).cast("long").alias("d1_abs"),
        F.expr(absum.format("d2")).cast("long").alias("d2_abs"),
        F.expr(absum.format("d3")).cast("long").alias("d3_abs"),
        F.expr("aggregate(s3, 0L, (a, x) -> a + x)")
        .cast("long")
        .alias("s3_sum"),
    )


_HAAR_PYRAMID = SEQ_CTE + """
, arr AS (
  SELECT user_id, list(tok ORDER BY pos) AS t FROM seq GROUP BY user_id
), l1 AS (
  SELECT user_id, len(t) AS n,
         [ (t[2*i-1] + t[2*i]) // 2
           for i in generate_series(1, len(t)//2) ] AS s1,
         [ t[2*i-1] - t[2*i]
           for i in generate_series(1, len(t)//2) ] AS d1
  FROM arr WHERE len(t) >= 16
), l2 AS (
  SELECT user_id, n, d1,
         [ (s1[2*i-1] + s1[2*i]) // 2
           for i in generate_series(1, len(s1)//2) ] AS s2,
         [ s1[2*i-1] - s1[2*i]
           for i in generate_series(1, len(s1)//2) ] AS d2
  FROM l1
), l3 AS (
  SELECT user_id, n, d1, d2,
         [ (s2[2*i-1] + s2[2*i]) // 2
           for i in generate_series(1, len(s2)//2) ] AS s3,
         [ s2[2*i-1] - s2[2*i]
           for i in generate_series(1, len(s2)//2) ] AS d3
  FROM l2
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(list_sum([abs(x) for x in d1]) AS BIGINT) AS d1_abs,
       CAST(list_sum([abs(x) for x in d2]) AS BIGINT) AS d2_abs,
       CAST(list_sum([abs(x) for x in d3]) AS BIGINT) AS d3_abs,
       CAST(list_sum(s3) AS BIGINT) AS s3_sum
FROM l3
"""


_Z_BITS = 8  # 256x256 grid; z-key is 2*_Z_BITS = 16 bits
_Z_BLOCK = 64  # 64 consecutive z-keys == one aligned 8x8 spatial square


def _zkey_sql(x: str, y: str) -> str:
    """Bit-interleave expression (Morton/z-order): bit b of x lands at
    position 2b, bit b of y at 2b+1.  Pure integer DIV/%/multiply so
    Spark and DuckDB fold it identically (no dialect-specific shift
    operators)."""
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"(({x} DIV {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"(({y} DIV {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


def q_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) locality bucketing for 2-D tile serving: map
    each cell's (x, y) to the interleaved-bit z-key and group into
    aligned 64-key blocks.  Every block is an 8x8 spatial
    square, so co-locating tiles by z-block turns 2-D neighborhood
    reads into single-partition scans — the standard layout for
    chunked volume stores at 100 TB (one shuffle on an 8-byte key;
    block extents in the output ARE the locality proof: max-min <= 7
    on both axes).

    The same derivation the dense-tile queries use (event_id -> grid),
    one map-side-combinable groupBy, scan pruned to event_id."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.expr("event_id % 256").cast("long").alias("x"),
        F.expr("(event_id DIV 256) % 256").cast("long").alias("y"),
        _tok_expr().cast("long").alias("v"),
    )
    keyed = base.select(
        "x", "y", "v", F.expr(_zkey_sql("x", "y")).cast("long").alias("zk")
    )
    return (
        keyed.groupBy(F.expr(f"zk DIV {_Z_BLOCK}").cast("long").alias("zblock"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("v").cast("long").alias("v_sum"),
            F.min("x").cast("long").alias("x_min"),
            F.max("x").cast("long").alias("x_max"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
        )
    )


_ZORDER_TILES = f"""
WITH cells AS (
  SELECT event_id % 256 AS x,
         (event_id // 256) % 256 AS y,
         ((event_id % 65521) * 31 + 7) % 256 AS v
  FROM events
), keyed AS (
  SELECT x, y, v, {_zkey_sql("x", "y").replace(" DIV ", " // ")} AS zk
  FROM cells
)
SELECT CAST(zk // {_Z_BLOCK} AS BIGINT) AS zblock,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v) AS BIGINT) AS v_sum,
       CAST(min(x) AS BIGINT) AS x_min,
       CAST(max(x) AS BIGINT) AS x_max,
       CAST(min(y) AS BIGINT) AS y_min,
       CAST(max(y) AS BIGINT) AS y_max
FROM keyed GROUP BY zk // {_Z_BLOCK}
"""
