"""Warehouse operations.

Integrity audits, delta join views, snapshot diffs, pivot and unpivot,
stream enrichment, bag set operations, grouping sets, bucket joins,
variant and JSON extraction, zone maps, join cardinality, column
profiles and compaction planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, pin
from .sequences import _word_hash_expr


def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity reconciliation census (the Deequ /
    dbt-`relationships`-test shape): for each foreign-key relation in
    the warehouse — orders.o_custkey -> customer, lineitem.l_orderkey
    -> orders, lineitem.l_partkey -> part — report child rows,
    orphaned child rows (FK with no parent), parents, and childless
    parents.  The audit every ingest pipeline runs before promoting a
    snapshot; counts are exact, one row per relation.

    Scale shape: each child side collapses to DISTINCT keys in a
    map-side-combinable groupBy BEFORE any join (the corpus never
    meets the parent raw); orphan and childless counts are LEFT ANTI
    joins on the 8-byte key (never NOT IN — null-safe and
    shuffle-plannable; AQE broadcasts whichever side is small); the
    per-relation census is a handful of 1-row aggregates unioned —
    total exchanged volume is O(distinct keys), all narrow."""
    out = []
    for rel, child_t, ck, parent_t, pk in (
        ("orders->customer", "orders", "o_custkey", "customer",
         "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders",
         "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part",
         "p_partkey"),
    ):
        child = load_table(spark, sf_dir, child_t).select(
            F.col(ck).alias("k")
        )
        parent = load_table(spark, sf_dir, parent_t).select(
            F.col(pk).alias("k")
        )
        ckeys = child.groupBy("k").agg(
            F.count("*").cast("long").alias("n_rows")
        )
        orphan = ckeys.join(parent, "k", "left_anti").agg(
            F.coalesce(F.sum("n_rows"), F.lit(0))
            .cast("long")
            .alias("n_orphan_child")
        )
        childless = parent.join(ckeys, "k", "left_anti").agg(
            F.count("*").cast("long").alias("n_childless_parent")
        )
        totals = child.agg(
            F.count("*").cast("long").alias("n_child")
        ).crossJoin(parent.agg(F.count("*").cast("long").alias("n_parent")))
        out.append(
            totals.crossJoin(orphan)
            .crossJoin(childless)
            .select(
                F.lit(rel).alias("relation"),
                "n_child",
                "n_orphan_child",
                "n_parent",
                "n_childless_parent",
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


_INTEGRITY_AUDIT = """
WITH rel1 AS (
  SELECT 'orders->customer' AS relation,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_child,
         (SELECT CAST(coalesce(count(*), 0) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
           AS n_orphan_child,
         (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_parent,
         (SELECT CAST(count(*) AS BIGINT) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey))
           AS n_childless_parent
), rel2 AS (
  SELECT 'lineitem->orders',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(coalesce(count(*), 0) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)),
         (SELECT CAST(count(*) AS BIGINT) FROM orders),
         (SELECT CAST(count(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey))
), rel3 AS (
  SELECT 'lineitem->part',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(coalesce(count(*), 0) AS BIGINT) FROM lineitem li
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = li.l_partkey)),
         (SELECT CAST(count(*) AS BIGINT) FROM part),
         (SELECT CAST(count(*) AS BIGINT) FROM part p
          WHERE NOT EXISTS (SELECT 1 FROM lineitem li
                            WHERE li.l_partkey = p.p_partkey))
)
SELECT * FROM rel1 UNION ALL SELECT * FROM rel2 UNION ALL
SELECT * FROM rel3
"""


DELTA_VIEW_CUT = 1998  # orders before this year are the materialized base


def q_delta_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance — the delta-join bilinear
    identity (A0 + dA) JOIN (B0 + dB) = A0 JOIN B0  UNION ALL
    dA JOIN B0  UNION ALL  A0 JOIN dB  UNION ALL  dA JOIN dB — the
    join half of the incremental-view story next to
    q_cagg_refresh/q_stream_upsert_refresh (which maintain
    AGGREGATES): a streaming warehouse never re-joins the full fact
    and dim tables when a batch of new orders (dA: orderdate past the
    materialization cut) and a batch of dim updates (dB: a
    deterministic tenth of customers) arrive — it computes the three
    delta quadrants and unions them onto the stored base.  This query
    EXECUTES the four-quadrant plan; the oracle runs the plain
    one-shot join — the hash match proves the identity row-exact
    (any dropped or duplicated quadrant changes the census).

    Scale shape: the base quadrant A0xB0 is the stored view (here
    recomputed: one shuffle join on the 8-byte custkey); all three
    delta quadrants put the DELTA side in the broadcast-build slot
    (deltas are batch-sized by construction, never corpus-sized), so
    maintenance cost is O(|dA| + |dB|) exchanged rows — the reason
    incremental beats re-join at 100 TB.  The census folds map-side
    to |priority| rows per quadrant before the union."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
        "o_orderdate",
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    cut = f"TIMESTAMP '{DELTA_VIEW_CUT}-01-01 00:00:00'"
    a0 = o.where(f"o_orderdate < {cut}")
    da = o.where(f"o_orderdate >= {cut}")
    b0 = c.where(F.col("c_custkey") % 10 != 0)
    db = c.where(F.col("c_custkey") % 10 == 0)
    def jk(a, b, bcast):
        # bcast: which side is the batch-sized delta -> broadcast build
        if bcast == "a":
            a = F.broadcast(a)
        elif bcast == "b":
            b = F.broadcast(b)
        return a.join(b, a.o_custkey == b.c_custkey).select(
            "o_orderpriority", "cents"
        )

    view = (
        jk(a0, b0, None)  # stored base: shuffle join on the 8-byte key
        .unionByName(jk(da, b0, "a"))
        .unionByName(jk(a0, db, "b"))
        .unionByName(jk(da, db, "a"))
    )
    return view.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


_DELTA_JOIN_VIEW = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff census — the dataset-versioning audit (Iceberg
    snapshot diff / lakeFS / DVC shape) a corpus pipeline publishes
    when promoting snapshot B over snapshot A: per source, how many
    docs were ADDED, REMOVED, CHANGED (same key, different content
    hash), and UNCHANGED.  Snapshot B is derived deterministically
    from the fixture (no external data): docs with doc_id % 17 == 3
    are dropped (removed), docs with doc_id % 20 == 0 have their text
    re-tagged (changed), and a shifted-key copy of every doc_id % 23
    == 5 row appears under key doc_id + 10^9 (added) — both engines
    derive the identical pair of snapshots, so the diff itself is
    what the hash match checks.

    Scale shape: content equality compares 8-byte md5-derived
    fingerprints, never text (the FULL OUTER join carries only
    (key, 8-byte hash, source)); the join is the one corpus-sized
    exchange, keyed on the 8-byte doc key; the per-source census
    folds map-side to |sources| x 4 rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    h = lambda c: _word_hash_expr(c)  # noqa: E731
    snap_a = docs.select(
        F.col("doc_id").alias("k"), "source", h(F.col("text")).alias("ha")
    )
    base_b = docs.where("doc_id % 17 != 3").select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(F.lit("rev2 "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added_b = docs.where("doc_id % 23 = 5").select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        "source",
        "text",
    )
    snap_b = (
        base_b.unionByName(added_b)
        .select(F.col("doc_id").alias("k"), "source",
                h(F.col("text")).alias("hb"))
    )
    j = snap_a.join(
        snap_b.withColumnRenamed("source", "source_b"), "k", "full_outer"
    ).select(
        F.coalesce(F.col("source"), F.col("source_b")).alias("src"),
        F.when(F.col("ha").isNull(), F.lit("added"))
        .when(F.col("hb").isNull(), F.lit("removed"))
        .when(F.col("ha") == F.col("hb"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )
    return j.groupBy("src", "change").agg(
        F.count("*").cast("long").alias("n_docs")
    )


_SNAPSHOT_DIFF = """
WITH snap_a AS (
  SELECT doc_id AS k, source,
         CAST(('0x' || substr(md5(text), 1, 14)) AS BIGINT) AS ha
  FROM documents
), snap_b AS (
  SELECT doc_id AS k, source,
         CAST(('0x' || substr(md5(CASE WHEN doc_id % 20 = 0
                                       THEN 'rev2 ' || text
                                       ELSE text END), 1, 14)) AS BIGINT)
           AS hb
  FROM documents WHERE doc_id % 17 != 3
  UNION ALL
  SELECT doc_id + 1000000000 AS k, source,
         CAST(('0x' || substr(md5(text), 1, 14)) AS BIGINT) AS hb
  FROM documents WHERE doc_id % 23 = 5
), j AS (
  SELECT coalesce(a.source, b.source) AS src,
         CASE WHEN a.ha IS NULL THEN 'added'
              WHEN b.hb IS NULL THEN 'removed'
              WHEN a.ha = b.hb THEN 'unchanged'
              ELSE 'changed' END AS change
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
)
SELECT src, change, CAST(count(*) AS BIGINT) AS n_docs
FROM j GROUP BY 1, 2
"""


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: the daily ops dashboard table — one row per day,
    one count column per event type (wide form), via Spark's native
    ``groupBy().pivot(col, values)`` with the value list PINNED (the
    explicit list keeps the output schema static and skips the extra
    distinct-collection job Spark otherwise runs — the form a
    production pipeline must use, since schema-by-data is both
    nondeterministic under late arrivals and a second scan).  The
    oracle uses portable conditional aggregation (sum CASE WHEN), the
    exact relational equivalent — so this also pins that Spark's
    pivot lowering IS the conditional-aggregate plan, not something
    weaker.

    Scale shape: pivot with pinned values lowers to TWO stacked
    map-side-combinable aggregates — (day, type) counts, then the
    per-day pivot combine (the q_json_props single-distinct shape):
    the corpus-side exchange carries only combined |days| x |types|
    rows, the second |days| rows; no Expand, no second scan, no
    per-type self-join (plan-pinned)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("floor(unix_timestamp(ts)) DIV 86400").alias("day"),
        "event_type",
    )
    out = (
        ev.groupBy("day")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot emits nullable counts (a day with zero of a type) — the
    # dashboard contract is 0, and the oracle's sum(CASE) agrees
    return out.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _PIVOT_TYPES
        ],
    )


_PIVOT_DAILY = """
SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_view
FROM events GROUP BY 1
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT surface (the inverse of q_pivot_daily): melt the wide
    daily dashboard back to the long (day, metric, n) form a metrics
    store ingests — one row per (day, type) INCLUDING explicit zeros
    for types absent on a day (the wide form's contract; a plain
    groupBy would silently omit those pairs, which is exactly why a
    metrics pipeline melts the wide table instead of re-aggregating).
    Uses Spark's native ``DataFrame.unpivot`` (ids=[day], values=the
    five count columns).

    Scale shape: unpivot lowers to an Expand node — but over the
    BOUNDED |days|-row wide table only (the corpus was already
    collapsed by the pivot's map-side aggregates), so the 5x row
    multiplication costs |days| x 5 tiny rows, never touches raw
    events, and adds zero exchanges (plan-pinned: Expand sits above
    the final pivot aggregate)."""
    wide = q_pivot_daily(spark, sf_dir)
    return wide.unpivot(
        ids=["day"],
        values=[f"n_{t}" for t in _PIVOT_TYPES],
        variableColumnName="metric",
        valueColumnName="n",
    ).select("day", "metric", F.col("n").cast("long").alias("n"))


_UNPIVOT_METRICS = """
WITH wide AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_click,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_error,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_signup,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_view
  FROM events GROUP BY 1
)
SELECT day, 'n_click' AS metric, n_click AS n FROM wide
UNION ALL SELECT day, 'n_error', n_error FROM wide
UNION ALL SELECT day, 'n_purchase', n_purchase FROM wide
UNION ALL SELECT day, 'n_signup', n_signup FROM wide
UNION ALL SELECT day, 'n_view', n_view FROM wide
"""


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension enrichment under the oracle — the
    canonical streaming join Structured Streaming is built around
    (and the one streaming shape the registry did not yet pin; the
    stream-STREAM case is q_stream_attribution): events arrive as a
    file stream in several micro-batches (availableNow,
    maxFilesPerTrigger=2) and every micro-batch broadcast-joins the
    STATIC customer dim (user_id -> segment) before landing enriched
    rows append-only through ``foreachBatch`` with a streaming
    checkpoint.  The end state — the per-segment revenue census over
    the landed rows — must value-hash-equal the plain batch
    join+groupBy the oracle runs: the stream-static join must not
    drop, duplicate, or mis-key a single row across batch
    boundaries.

    Scale shape: the dim is broadcast ONCE per micro-batch (Spark
    re-plans each batch — exactly what you want when the dim is
    small and slowly changing); the stream side never shuffles before
    the sink (join is broadcast, the census runs on the landed
    table); cents are floor(value*100) exact-integer both engines."""
    import tempfile

    from ..streaming import drain

    with tempfile.TemporaryDirectory(
        prefix="tb_stream_enrich_", ignore_cleanup_errors=True
    ) as work:
        src = f"{work}/src"
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        )
        ev.repartition(8).write.parquet(src)  # 8 files -> 4 batches
        dim = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .join(F.broadcast(dim), "user_id")
            .select("event_id", "segment", "cents")
        )
        out_dir = f"{work}/enriched"

        def _land(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        drain(
            stream.writeStream.foreachBatch(_land)
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start(),
            "enrichment stream",
        )
        landed = spark.read.parquet(out_dir)
        res = landed.groupBy("segment").agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        # the landed table lives in a temp dir we are about to delete
        return pin(res)


_STREAM_ENRICH = """
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


def q_set_ops_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operations — ``intersectAll`` / ``exceptAll``
    (SQL INTERSECT ALL / EXCEPT ALL), the multiset half of the set-op
    surface (q_user_set_ops pins the DISTINCT half): comparing the
    view-event and click-event user multisets, how many view events
    are "matched" by a click from the same user (min of the two
    multiplicities — the bag intersection) and how many are unmatched
    surplus (the bag difference).  Multiset semantics are what
    event-level reconciliation actually needs — DISTINCT ops collapse
    a 1000-view user and a 1-view user into the same row.

    Scale shape: Spark lowers intersectAll/exceptAll to a per-key
    count aggregate + Generate replicate — the exchange is keyed on
    the 8-byte user id carrying combined counts (map-side partial);
    the four totals fold to 1-row aggregates and broadcast-cross to
    the single output row."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.where("event_type = 'view'").select("user_id")
    b = ev.where("event_type = 'click'").select("user_id")
    one = lambda df, name: df.agg(  # noqa: E731
        F.count("*").cast("long").alias(name)
    )
    return (
        one(a, "n_view")
        .crossJoin(one(b, "n_click"))
        .crossJoin(one(a.intersectAll(b), "n_matched"))
        .crossJoin(one(a.exceptAll(b), "n_surplus"))
    )


_SET_OPS_BAG = """
WITH a AS (SELECT user_id FROM events WHERE event_type = 'view'),
     b AS (SELECT user_id FROM events WHERE event_type = 'click')
SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_view,
       (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_click,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT user_id FROM a INTERSECT ALL
              SELECT user_id FROM b)) AS n_matched,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT user_id FROM a EXCEPT ALL
              SELECT user_id FROM b)) AS n_surplus
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom GROUPING SETS — the general form of the multi-level
    aggregate surface (q_cube_metrics / q_rollup_metrics pin the two
    FIXED shapes; this pins an arbitrary mixed list): daily event
    counts and cents at four grain combinations — (type, day),
    (type), (day), and the grand total — in ONE pass, labels filled
    with 'ALL' / -1 (fixture columns are never null, so coalesce is
    unambiguous and engine-portable — no grouping_id bit-order
    dependency between engines).

    Scale shape: Spark lowers GROUPING SETS to one Expand (x4 rows)
    ABOVE the scan projection feeding a single map-side-combinable
    aggregate — one exchange of partially-combined rows across all
    four grains at once, which beats four separate scans exactly when
    the input is the expensive side (always, at 100 TB)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "gs_events"
    )
    return spark.sql(
        """
SELECT coalesce(event_type, 'ALL') AS etype,
       coalesce(day, -1) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM (
  SELECT event_type,
         CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV 86400 AS day,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM gs_events
)
GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
"""
    )


_GROUPING_SETS = """
SELECT coalesce(event_type, 'ALL') AS etype,
       coalesce(day, -1) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
)
GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
"""


def q_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-level BUCKETING — the co-located join the task's scale
    playbook names next to broadcast ('bucketing for co-located
    joins') and the one join strategy the registry had not yet
    executed: orders and customer are WRITTEN as bucketed tables
    (``bucketBy(8, custkey)``, sorted within buckets), so the join
    needs NO shuffle at read time — each task sort-merges bucket i of
    both sides.  At 100 TB this is the difference between re-shuffling
    the fact table on every join and paying the shuffle ONCE at write
    time, amortized over every subsequent join on that key; the merge
    hint pins the sort-merge path so the tiny-fixture broadcast
    fallback can't mask the bucketed plan (test_plans pins zero
    exchanges under the join and SelectedBucketsCount in both scans).

    The census (per market segment: orders and exact cents) must
    value-hash-equal the plain-join oracle — bucketed layout changes
    the physical plan, never the answer."""
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:8]
    t_o, t_c = f"tb_bj_orders_{tag}", f"tb_bj_cust_{tag}"
    with tempfile.TemporaryDirectory(
        prefix="tb_bucket_join_", ignore_cleanup_errors=True
    ) as work:
        try:
            (
                load_table(spark, sf_dir, "orders")
                .select(
                    "o_custkey",
                    F.expr(
                        "CAST(floor(o_totalprice * 100) AS BIGINT)"
                    ).alias("cents"),
                )
                .write.bucketBy(8, "o_custkey")
                .sortBy("o_custkey")
                .option("path", f"{work}/orders")
                .saveAsTable(t_o)
            )
            (
                load_table(spark, sf_dir, "customer")
                .select("c_custkey", "c_mktsegment")
                .write.bucketBy(8, "c_custkey")
                .sortBy("c_custkey")
                .option("path", f"{work}/cust")
                .saveAsTable(t_c)
            )
            o = spark.table(t_o)
            c = spark.table(t_c).hint("merge")
            j = o.join(c, o.o_custkey == c.c_custkey)
            res = j.groupBy("c_mktsegment").agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("sum_cents"),
            ).select(
                F.col("c_mktsegment").alias("segment"), "n_orders", "sum_cents"
            )
            # rows must outlive the dropped tables + deleted temp dir
            return pin(res)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t_o}")
            spark.sql(f"DROP TABLE IF EXISTS {t_c}")


_BUCKET_JOIN = """
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-typed semi-structured extraction (Spark 4's binary
    variant path): the events ``props`` JSON is parsed ONCE into a
    shredded VARIANT column (``parse_json``) and the payload is
    extracted with typed ``variant_get`` — the engine-native
    replacement for per-access string parsing (q_json_props pins the
    classic ``get_json_object`` path; at 100 TB the variant encode
    happens once at ingest and every later access is a binary field
    read, not a JSON re-parse).  Census per event type: rows, k-sum,
    k-min/max, distinct k — identical contract to q_json_props'
    profile, so the two paths must agree with each other AND the
    oracle.

    Scale shape: parse + typed get are pure per-row Catalyst
    projections; the census is the same stacked single-distinct
    aggregate shape as q_json_props (two bounded exchanges, no raw
    shuffle, no Expand)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.variant_get(F.parse_json(F.col("props")), "$.k", "long").alias(
            "k"
        ),
    )
    kd = ev.groupBy("event_type", "k").agg(
        F.count("*").cast("long").alias("n")
    )
    return kd.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum(F.col("k") * F.col("n")).cast("long").alias("k_sum"),
        F.min("k").cast("long").alias("k_min"),
        F.max("k").cast("long").alias("k_max"),
        F.count("*").cast("long").alias("k_distinct"),
    )


_VARIANT_EXTRACT = """
WITH ev AS (
  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events
), kd AS (
  SELECT event_type, k, CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
)
SELECT event_type,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(k * n) AS BIGINT) AS k_sum,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max,
       CAST(count(*) AS BIGINT) AS k_distinct
FROM kd GROUP BY 1
"""


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile of the documents table — the
    completeness/cardinality audit every ingest pipeline runs before
    training (null rate, exact distinct count, value-length range) for
    each string column.  ONE pass over the table computes all fifteen
    aggregates (Catalyst plans the multi-DISTINCT via Expand), then a
    3-element inline array unpivots the single row — no second scan, no
    UNION of scans.

    Scale note: exact count(DISTINCT) on three columns is the oracle-
    parity choice; at 100 TB the same query shape takes
    approx_count_distinct and drops the Expand."""
    docs = load_table(spark, sf_dir, "documents")
    cols = ["text", "lang", "source"]
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.isnull(c).cast("long")).cast("long").alias(f"null_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"dist_{c}"),
            F.min(F.length(c)).cast("long").alias(f"minl_{c}"),
            F.max(F.length(c)).cast("long").alias(f"maxl_{c}"),
        ]
    one = docs.agg(*aggs)
    packed = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col("n_rows").alias("n_rows"),
                        F.col(f"null_{c}").alias("n_null"),
                        F.col(f"dist_{c}").alias("n_distinct"),
                        F.col(f"minl_{c}").alias("min_len"),
                        F.col(f"maxl_{c}").alias("max_len"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return packed.select("p.*")


_COLUMN_PROFILE = """
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_text,
         CAST(count(DISTINCT text) AS BIGINT) AS dist_text,
         CAST(min(length(text)) AS BIGINT) AS minl_text,
         CAST(max(length(text)) AS BIGINT) AS maxl_text,
         CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_lang,
         CAST(count(DISTINCT lang) AS BIGINT) AS dist_lang,
         CAST(min(length(lang)) AS BIGINT) AS minl_lang,
         CAST(max(length(lang)) AS BIGINT) AS maxl_lang,
         CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_source,
         CAST(count(DISTINCT source) AS BIGINT) AS dist_source,
         CAST(min(length(source)) AS BIGINT) AS minl_source,
         CAST(max(length(source)) AS BIGINT) AS maxl_source
  FROM documents
)
SELECT 'text' AS column_name, n_rows, null_text AS n_null,
       dist_text AS n_distinct, minl_text AS min_len, maxl_text AS max_len
FROM a
UNION ALL
SELECT 'lang', n_rows, null_lang, dist_lang, minl_lang, maxl_lang FROM a
UNION ALL
SELECT 'source', n_rows, null_source, dist_source, minl_source, maxl_source
FROM a
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction census: pull the integer payload out
    of the events table's JSON ``props`` column (``get_json_object`` —
    Spark's Catalyst-native JSON path evaluator, no Python) and profile
    it per event type: count, null count, sum/min/max, exact distinct.
    This is the schema-on-read audit a pipeline runs before promoting a
    JSON blob column to a typed column.

    Scale: pure per-row Catalyst extraction, and the single-DISTINCT
    rewrite stacks a partial (source, k) aggregate under the final
    (source) aggregate — two bounded exchanges (distinct (source, k)
    pairs, then |types| rows), raw events never shuffle and no Expand
    node appears (pinned).  Exact count(DISTINCT) is the oracle-parity
    choice; the 100 TB variant swaps approx_count_distinct (or the
    q_bitmap_distinct bitmap) in the same shape.  Malformed JSON yields
    NULL on the Spark side by get_json_object's contract; the fixture
    is well-formed so the oracle's stricter json_extract_string
    agrees."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(F.col("event_type").alias("source"), k.alias("k"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.isnull("k").cast("long")).cast("long").alias("n_null"),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
            F.count_distinct(F.col("k")).cast("long").alias("k_distinct"),
        )
    )


_JSON_PROPS = """
WITH e AS (
  SELECT event_type AS source,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max,
       CAST(count(DISTINCT k) AS BIGINT) AS k_distinct
FROM e GROUP BY source
"""


ZONE_THRESH_CENTI = 48000  # probe predicate: value >= 480.00


def q_zone_map_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping diagnostic: build per-(source, day) zone maps
    (min/max of the centi-scaled value — exactly the file/row-group
    stats Parquet footers and Iceberg manifests carry) and report, per
    source, how much of the table a ``value >= 480`` scan could skip:
    bucket count, prunable buckets (zone max below the predicate), and
    the rows those buckets hold.  This is the planning query behind
    partition-layout choices at 100 TB — it measures, before any
    rewrite, what fraction of I/O a sort/cluster on ``value`` would
    save.

    Shape: two stacked map-side-combinable groupBys (events -> zone
    maps -> |sources| rows); raw rows never shuffle.  Centi-scaling is
    the registry's floor(value*100) convention, exact on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    vc = F.floor(F.col("value") * 100).cast("long")
    zones = (
        ev.select(
            F.col("event_type").alias("source"),
            F.to_date("ts").alias("day"),
            vc.alias("vc"),
        )
        .groupBy("source", "day")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("vc").cast("long").alias("vmin"),
            F.max("vc").cast("long").alias("vmax"),
        )
    )
    pruned = (F.col("vmax") < ZONE_THRESH_CENTI).cast("long")
    return zones.groupBy("source").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(pruned).cast("long").alias("n_pruned"),
        F.sum(F.col("n_rows") * pruned).cast("long").alias("rows_pruned"),
        F.sum("n_rows").cast("long").alias("rows_total"),
    )


_ZONE_MAP_PRUNE = f"""
WITH zones AS (
  SELECT event_type AS source, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS vmin,
         CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS vmax
  FROM events GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN vmax < {ZONE_THRESH_CENTI} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_pruned,
       CAST(sum(CASE WHEN vmax < {ZONE_THRESH_CENTI} THEN n_rows ELSE 0 END)
         AS BIGINT) AS rows_pruned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total
FROM zones GROUP BY source
"""


JOINCARD_CNT_MAX = 1 << 20  # per-(user, type) count bound: prod < 2^40


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation WITHOUT running the join: for every pair
    of event types, the EXACT output cardinality of the inner join of
    their event subsets on user_id — sum over users of cnt_a * cnt_b —
    plus the matched-key count and the hottest key's contribution (the
    skew share that decides salting).  This is the optimizer's
    cardinality question answered from per-key histograms: the 100 TB
    planner runs THIS before committing to a join order.

    Shape (mirrors q_source_overlap's in-row pairing): one groupBy to
    (user, type) counts, one groupBy collecting each user's <= |types|
    (type, cnt) structs in-row, C(t,2) pair products built by nested
    transform — the pair table the join WOULD produce never
    materializes.  Overflow budget: per-key counts < 2^20 (runtime
    raise) keep each product < 2^40.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("t"),
    ).agg(F.count("*").cast("long").alias("c"))
    guarded = per.select(
        "user_id",
        "t",
        F.when(F.col("c") < JOINCARD_CNT_MAX, F.col("c"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "q_join_cardinality: per-(user, type) count "
                        "breaks the product overflow budget: "
                    ),
                    F.col("c").cast("string"),
                )
            ).cast("long")
        )
        .alias("c"),
    )
    sets = guarded.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("t").alias("t"), F.col("c").alias("c")))
        ).alias("tc")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "tc",
                    lambda a, i: F.transform(
                        F.slice("tc", i + F.lit(2), F.size("tc")),
                        lambda b: F.struct(
                            a["t"].alias("type_a"),
                            b["t"].alias("type_b"),
                            (a["c"] * b["c"]).alias("prod"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.type_a", "p.type_b", "p.prod")
    return pairs.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("matched_keys"),
        F.sum("prod").cast("long").alias("join_rows"),
        F.max("prod").cast("long").alias("max_key_rows"),
    )


_JOIN_CARDINALITY = """
WITH per AS (
  SELECT user_id, event_type AS t, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
)
SELECT a.t AS type_a, b.t AS type_b,
       CAST(count(*) AS BIGINT) AS matched_keys,
       CAST(sum(a.c * b.c) AS BIGINT) AS join_rows,
       CAST(max(a.c * b.c) AS BIGINT) AS max_key_rows
FROM per a JOIN per b ON a.user_id = b.user_id AND a.t < b.t
GROUP BY 1, 2
"""


COMPACT_TARGET = 50_000  # rows per rewritten compaction job


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse compaction planner (Iceberg rewrite_data_files / Delta
    OPTIMIZE shape): pack each type's daily partitions, in day order,
    into jobs of ~COMPACT_TARGET rows by next-fit on the exclusive
    prefix sum — job_id = rows_before DIV target, so a job never spans
    types and partitions stay contiguous (the property that keeps
    rewritten files partition-prunable).

    Shape: raw events collapse in ONE map-side-combinable groupBy to
    |types| x |days| partition rows; the prefix window partitions by
    type and its row count is calendar-bounded (days), never
    event-bounded — the same budget as q_trend_slope's day grouping."""
    ev = load_table(spark, sf_dir, "events")
    parts = ev.select(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) AS LONG) DIV 86400").alias("day"),
    ).groupBy("event_type", "day").agg(
        F.count("*").cast("long").alias("rows")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return parts.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "rows",
        F.coalesce(F.sum("rows").over(w), F.lit(0).cast("long"))
        .cast("long")
        .alias("rows_before"),
    ).select(
        "event_type",
        "day",
        "rows",
        F.expr(f"rows_before DIV {COMPACT_TARGET}")
        .cast("long")
        .alias("job_id"),
    )


_COMPACTION_PLAN = f"""
WITH p AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(count(*) AS BIGINT) AS rows
  FROM events GROUP BY 1, 2
), pre AS (
  SELECT event_type, day, rows,
         CAST(coalesce(sum(rows) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS rows_before
  FROM p
)
SELECT event_type, CAST(day AS BIGINT) AS day, rows,
       CAST(rows_before // {COMPACT_TARGET} AS BIGINT) AS job_id
FROM pre
"""
