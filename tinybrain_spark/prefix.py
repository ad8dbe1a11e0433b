"""Distributed running sums — the scale-safe prefix-sum primitive.

``SUM(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`` is the classic
one-task trap: with no partition key Spark funnels every row into a
single task (``WindowExec`` "No Partition Defined"), and partitioning
by a low-cardinality stream key (event_type, source) just renames the
trap — one task still sorts a whole stream's history.  This module
computes inclusive running sums with only BOUNDED sorts, the same
two-phase shape Spark's own RangePartitioner uses:

1. ``repartitionByRange`` on (partition_cols..., order_cols...) —
   each physical partition holds a contiguous key range;
   ``session.pin`` pins the sampled range boundaries so every
   downstream subtree sees the identical row->partition assignment
   (repartitionByRange SAMPLES its child; without the checkpoint two
   evaluations could sample different boundaries and mis-align the
   offsets — the global_rank determinism hazard flagged in round-3
   ADVICE).
2. per-(physical partition, partition_cols) totals — a tiny aggregate:
   at most ``num_partitions + n_groups`` rows, because range
   partitioning makes each group span a contiguous run of partitions.
3. exclusive offsets over those totals:
   - with partition_cols: a window partitioned BY THE REAL GROUP
     COLUMNS ordered by partition id — every window group holds at
     most ``num_partitions`` rows (a config constant, not a data
     volume), and the partition spec is non-empty, so no plan ever
     contains an unpartitioned WindowExec;
   - without partition_cols: the per-partition totals are collected to
     the driver (<= num_partitions rows — bounded by configuration,
     independent of data volume, exactly like a broadcast-join build
     side) and cumulated in plain Python: no window at all.
4. broadcast the offsets back; running sum = offset + within-partition
   running sum (window partitioned by the physical partition id —
   bounded by partition size, never by stream length).

Cardinality contract: ``partition_cols`` is for LOW-cardinality stream
keys (event types, source streams) — the offsets table is
``num_partitions + n_groups`` rows and is broadcast.  High-cardinality
keys don't need this module at all: with many groups each group is
small, and a plain ``Window.partitionBy(key)`` is already bounded.

No reference analog (tinybrain has no relational layer); this is
engine infrastructure shared by packing.pack_offsets, ranking, and the
counter/cumulative timeseries queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import pin


def running_sums(
    df: DataFrame,
    sum_cols: list[str],
    order_cols: list[str],
    partition_cols: list[str] | None = None,
    num_partitions: int | None = None,
    out_prefix: str = "rs_",
) -> DataFrame:
    """Add inclusive running sums ``{out_prefix}{c}`` for each ``c`` in
    ``sum_cols``, taken over the total order ``order_cols`` within each
    ``partition_cols`` group (globally when ``partition_cols`` is
    empty/None).  ``order_cols`` must be a total order within a group —
    ties would make the sums nondeterministic; include a unique column
    last.  Sums are exact BIGINT arithmetic (ANSI-safe for totals
    < 2^63); all inputs must be non-null.

    Builds eagerly: the range-partitioned input is pinned
    (pins sampled boundaries AND doubles as the resume point for long
    jobs) and the per-partition totals run as a small job at call time.
    """
    parts = list(partition_cols or [])
    keys = parts + list(order_cols)
    parted = (
        df.repartitionByRange(num_partitions, *keys)
        if num_partitions
        else df.repartitionByRange(*keys)
    )
    parted = pin(parted)
    with_pid = parted.withColumn("_pid", F.spark_partition_id())

    sums = [F.sum(c).cast("long").alias(f"_t_{c}") for c in sum_cols]
    totals = with_pid.groupBy("_pid", *parts).agg(*sums)

    if parts:
        # <= num_partitions rows per group; real columns => the window
        # is partitioned, and every sort in the plan stays bounded.
        wg = Window.partitionBy(*parts).orderBy("_pid")
        offsets = totals.select(
            "_pid",
            *parts,
            *[
                (F.sum(f"_t_{c}").over(wg) - F.col(f"_t_{c}"))
                .cast("long")
                .alias(f"_off_{c}")
                for c in sum_cols
            ],
        )
        joined = with_pid.join(F.broadcast(offsets), ["_pid", *parts])
    else:
        # <= num_partitions rows total (config constant): cumulate on
        # the driver — no window at all, like a broadcast build side.
        rows = sorted(totals.collect(), key=lambda r: r["_pid"])
        acc = {c: 0 for c in sum_cols}
        off_rows = []
        for r in rows:
            off_rows.append([r["_pid"]] + [acc[c] for c in sum_cols])
            for c in sum_cols:
                acc[c] += r[f"_t_{c}"] or 0
        schema = "_pid int, " + ", ".join(
            f"_off_{c} long" for c in sum_cols
        )
        offsets = df.sparkSession.createDataFrame(off_rows, schema)
        joined = with_pid.join(F.broadcast(offsets), "_pid")

    ww = Window.partitionBy("_pid", *parts).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = joined
    for c in sum_cols:
        out = out.withColumn(
            f"{out_prefix}{c}",
            (F.col(f"_off_{c}") + F.sum(c).over(ww)).cast("long"),
        )
    return out.drop("_pid", *[f"_off_{c}" for c in sum_cols])


def running_sums_bucketed(
    df: DataFrame,
    sum_cols: list[str],
    order_cols: list[str],
    bucket_col: str,
    partition_cols: list[str],
    out_prefix: str = "rs_",
) -> DataFrame:
    """Inclusive running sums like :func:`running_sums`, for callers
    that already carry a MONOTONE bucket column (e.g. the hour bucket
    of the ordering timestamp): within each ``partition_cols`` group,
    rows ordered by ``order_cols`` must visit ``bucket_col`` in
    non-decreasing order, so every bucket is a contiguous run of the
    stream and ``running = prior-bucket totals + within-bucket
    running``.

    Versus the range-partitioned shape this removes the sampling pass
    (repartitionByRange evaluates its child once extra to sample
    boundaries), the pin materialization, and the
    boundary-determinism hazard: the bucket is DATA-derived, so both
    evaluations of any subtree agree by construction.  The final
    aggregate/window a caller runs on (partition_cols..., bucket_col)
    reuses the within-bucket window's hash exchange — one wide
    exchange total.

    Cardinality contract: ``partition_cols`` must be non-empty (a
    constant would fold out of the window spec and plan the one-task
    funnel) and the (groups x buckets) offsets table must stay
    broadcast-sized — true for stream-key x time-bucket shapes (it IS
    the rollup grid); for unbounded bucket domains use
    :func:`running_sums`.
    """
    if not partition_cols:
        raise ValueError(
            "running_sums_bucketed needs non-empty partition_cols; "
            "use running_sums for the global-stream case"
        )
    parts = list(partition_cols)
    sums = [F.sum(c).cast("long").alias(f"_t_{c}") for c in sum_cols]
    totals = df.groupBy(*parts, bucket_col).agg(*sums)
    wg = Window.partitionBy(*parts).orderBy(bucket_col)
    offsets = totals.select(
        *parts,
        bucket_col,
        *[
            (F.sum(f"_t_{c}").over(wg) - F.col(f"_t_{c}"))
            .cast("long")
            .alias(f"_off_{c}")
            for c in sum_cols
        ],
    )
    joined = df.join(F.broadcast(offsets), [*parts, bucket_col])
    ww = Window.partitionBy(*parts, bucket_col).orderBy(
        *order_cols
    ).rowsBetween(Window.unboundedPreceding, 0)
    out = joined
    for c in sum_cols:
        out = out.withColumn(
            f"{out_prefix}{c}",
            (F.col(f"_off_{c}") + F.sum(c).over(ww)).cast("long"),
        )
    return out.drop(*[f"_off_{c}" for c in sum_cols])


def running_mins(
    df: DataFrame,
    min_cols: list[str],
    order_cols: list[str],
    partition_cols: list[str] | None = None,
    num_partitions: int | None = None,
    out_prefix: str = "rm_",
) -> DataFrame:
    """Add inclusive running minimums ``{out_prefix}{c}`` over the same
    two-level shape as :func:`running_sums` — min is associative and
    commutative exactly like sum, so the decomposition
    ``running_min = least(min over STRICTLY-PRECEDING partitions,
    within-partition running min)`` holds verbatim; the only twist is
    the identity element: an exclusive prefix over an empty set is
    NULL, and ``least`` in Spark skips NULLs (unlike ``+``), so no
    sentinel is needed.  Bounded sorts everywhere, same cardinality
    contract as running_sums (LOW-cardinality ``partition_cols``).

    Shares the running_sums shuffle when callers need both: pass the
    frame through running_sums first, then this — repartitionByRange on
    identical keys reuses the exchange (AQE folds the second one)."""
    parts = list(partition_cols or [])
    keys = parts + list(order_cols)
    parted = (
        df.repartitionByRange(num_partitions, *keys)
        if num_partitions
        else df.repartitionByRange(*keys)
    )
    parted = pin(parted)
    with_pid = parted.withColumn("_pid", F.spark_partition_id())

    mins = [F.min(c).cast("long").alias(f"_t_{c}") for c in min_cols]
    totals = with_pid.groupBy("_pid", *parts).agg(*mins)

    if parts:
        wg = (
            Window.partitionBy(*parts)
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.select(
            "_pid",
            *parts,
            *[
                F.min(f"_t_{c}").over(wg).cast("long").alias(f"_off_{c}")
                for c in min_cols
            ],
        )
        joined = with_pid.join(F.broadcast(offsets), ["_pid", *parts])
    else:
        rows = sorted(totals.collect(), key=lambda r: r["_pid"])
        acc: dict[str, int | None] = {c: None for c in min_cols}
        off_rows = []
        for r in rows:
            off_rows.append([r["_pid"]] + [acc[c] for c in min_cols])
            for c in min_cols:
                v = r[f"_t_{c}"]
                if v is not None and (acc[c] is None or v < acc[c]):
                    acc[c] = v
        schema = "_pid int, " + ", ".join(
            f"_off_{c} long" for c in min_cols
        )
        offsets = df.sparkSession.createDataFrame(off_rows, schema)
        joined = with_pid.join(F.broadcast(offsets), "_pid")

    ww = Window.partitionBy("_pid", *parts).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = joined
    for c in min_cols:
        out = out.withColumn(
            f"{out_prefix}{c}",
            F.least(
                F.col(f"_off_{c}"), F.min(c).over(ww)
            ).cast("long"),
        )
    return out.drop("_pid", *[f"_off_{c}" for c in min_cols])
