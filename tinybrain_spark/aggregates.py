"""Continuous aggregates per (source, time_bucket), maintained
incrementally (north_rule: 'continuous aggregates ... maintained
incrementally per (source, time-bucket) partition').

The aggregate state is sum-mergeable (count / token count / sum / min /
max), so incremental maintenance is: aggregate the new batch, then
combine with the stored state by key and overwrite only the touched
source partitions — a MERGE INTO on Iceberg, partition-dynamic
overwrite on the Parquet fallback.

Skew: the partial aggregation is salted explicitly (hash(doc_id) mod S
added to the grouping key) before the final combine, so one hot Zipf
source spreads over S reducers.  With built-in aggregate functions
Spark already does map-side partial aggregation; the explicit salt
additionally protects the final exchange when a single (source, bucket)
key dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog
from .partitioning import with_salt
from .session import pin

AGG_KEY = ("source", "time_bucket")


def aggregate_batch(df: DataFrame) -> DataFrame:
    """Two-phase salted aggregation of a sequence/tier table into
    per-(source, time_bucket) rollup state."""
    per_row = df.select(
        "source",
        "time_bucket",
        "doc_id",
        F.size("tokens").alias("row_points"),
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "row_sum"
        ),
        F.array_min("tokens").alias("row_min"),
        F.array_max("tokens").alias("row_max"),
    )
    partial = (
        with_salt(per_row)
        .groupBy("source", "time_bucket", "salt")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("row_points").alias("n_points"),
            F.sum("row_sum").alias("token_sum"),
            F.min("row_min").alias("token_min"),
            F.max("row_max").alias("token_max"),
        )
    )
    return combine_states(partial.drop("salt"))


def combine_states(states: DataFrame) -> DataFrame:
    """Merge sum-mergeable aggregate states by key."""
    return states.groupBy(*AGG_KEY).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_points").alias("n_points"),
        F.sum("token_sum").alias("token_sum"),
        F.min("token_min").alias("token_min"),
        F.max("token_max").alias("token_max"),
    )


def update_continuous_aggregate(
    catalog: Catalog,
    table: str,
    new_batch: DataFrame,
) -> DataFrame:
    """Incrementally fold a new batch of rows into the stored aggregate.

    Only partitions (sources) present in the batch are rewritten; the
    result equals a full recompute over all data ever folded in (the
    invariant test_continuous_agg pins).
    """
    delta = aggregate_batch(new_batch)
    if catalog.exists(table):
        existing = catalog.read(table)
        touched = delta.select("source").distinct()
        relevant = existing.join(F.broadcast(touched), "source", "left_semi")
        merged = combine_states(relevant.unionByName(delta))
    else:
        merged = delta
    catalog.write(
        merged, table, partition_by=("source",), mode="overwrite_partitions"
    )
    return catalog.read(table)


# -- invalidation-range refresh (late UPDATE/DELETE corrections) --------

# above this many coalesced ranges the predicate collapses to one
# envelope per source: a literal OR chain is what makes the raw scan
# pushdown-prunable, but Catalyst codegen cost grows with expression
# size (CLAUDE.md: 512-term chains cost ~45s), so a huge log trades
# scan precision for plan compilation time.
MAX_INVALIDATION_RANGES = 256


def coalesce_invalidations(
    ranges: list[tuple[str, int, int]],
    max_ranges: int = MAX_INVALIDATION_RANGES,
) -> list[tuple[str, int, int]]:
    """Merge overlapping/adjacent ``(source, bucket_lo, bucket_hi)``
    closed ranges per source; if more than ``max_ranges`` survive,
    collapse each source to its envelope (min lo, max hi) — always a
    SUPERSET of the dirty keys, so a refresh stays correct, just
    recomputes more."""
    by_src: dict[str, list[tuple[int, int]]] = {}
    for s, lo, hi in ranges:
        if lo > hi:
            raise ValueError(f"invalidation range lo > hi: {(s, lo, hi)}")
        by_src.setdefault(s, []).append((lo, hi))
    out: list[tuple[str, int, int]] = []
    for s in sorted(by_src):
        merged: list[list[int]] = []
        for lo, hi in sorted(by_src[s]):
            if merged and lo <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        out.extend((s, lo, hi) for lo, hi in merged)
    if len(out) > max_ranges:
        out = [
            (s, min(r[0] for r in rs), max(r[1] for r in rs))
            for s, rs in (
                (s, by_src[s]) for s in sorted(by_src)
            )
        ]
    return out


def invalidation_predicate(ranges: list[tuple[str, int, int]]):
    """Literal OR-of-ranges predicate over (source, time_bucket).

    Built from driver-side literals ON PURPOSE: the invalidation log is
    tiny metadata (one entry per correction batch, coalesced), and a
    literal predicate reaches the parquet scan as PushedFilters +
    partition pruning — a join against a log DataFrame would scan all
    of raw.  Pinned in test_aggregates."""
    if not ranges:
        raise ValueError("empty invalidation log")
    pred = None
    for s, lo, hi in ranges:
        p = (F.col("source") == s) & F.col("time_bucket").between(lo, hi)
        pred = p if pred is None else (pred | p)
    return pred


def refresh_invalidated(
    catalog: Catalog,
    table: str,
    raw: DataFrame,
    invalidations: list[tuple[str, int, int]],
) -> DataFrame:
    """Recompute ONLY the invalidated (source, time-bucket) groups of a
    stored continuous aggregate from ``raw`` — the correction path that
    sum-mergeable folding cannot express (TimescaleDB-style
    invalidation refresh: late UPDATEs and DELETEs un-count rows, so
    the dirty groups must be rebuilt from source, not merged).

    ``invalidations`` is the driver-side log of closed bucket ranges
    dirtied since the last refresh.  Scale shape: raw is scanned only
    under the pushed-down range predicate (partition pruning when raw
    is bucket/source-partitioned); the stored aggregate rewrites only
    the touched ``source`` partitions (dynamic overwrite), with clean
    rows of touched sources carried over untouched and dirty groups
    whose raw rows all vanished dropped — including whole-source drops,
    which dynamic overwrite can't express and ``drop_partitions``
    handles at the metadata level.  Invariant (pinned in tests): the
    refreshed table equals a full recompute over the corrected raw.
    """
    ranges = coalesce_invalidations(invalidations)
    pred = invalidation_predicate(ranges)
    fresh = aggregate_batch(raw.where(pred))
    touched = sorted({s for s, _, _ in ranges})
    if catalog.exists(table):
        existing = catalog.read(table)
        clean = existing.where(
            F.col("source").isin(touched) & ~pred
        )
        # disjoint keys by construction (clean excludes pred, fresh is
        # only pred) — plain union, no re-merge shuffle needed
        merged = clean.unionByName(fresh)
    else:
        merged = fresh
    # the merged state is cagg-sized (small); pin it so the
    # present-source probe and the write don't recompute the plan
    merged = pin(merged)
    present = {
        r["source"] for r in merged.select("source").distinct().collect()
    }
    # whole-source drops: dynamic overwrite only rewrites partitions
    # present in the data, so a source whose every group vanished needs
    # an explicit partition-directory delete (metadata-level; Iceberg
    # would express it as DELETE WHERE source IN (...))
    for s in touched:
        if s not in present:
            catalog.drop(f"{table}/source={s}")
    if present:
        catalog.write(
            merged,
            table,
            partition_by=("source",),
            mode="overwrite_partitions",
        )
    return catalog.read(table)
