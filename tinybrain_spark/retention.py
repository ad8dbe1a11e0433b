"""Retention policies over the tier pyramid (the 'retention' third of
the north rule's rollup + downsample + retention engine).

A policy maps each tier to the maximum time-bucket age it retains,
mirroring the classic downsampling retention ladder (raw data kept
briefly, coarser rollups kept longer — e.g. tier 0 for 7 days, tier 1
for 30, tier 3 forever).  Enforcement is partition-level: expired
(source, time_bucket) groups are dropped by rewriting only the touched
source partitions (dynamic partition overwrite — a metadata-only delete
under Iceberg), and every enforcement run is recorded in the lineage
table so audits can reconstruct what was dropped when.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog
from .rollup import tier_table


def _iter_parquet_files(catalog: Catalog, table: str):
    import glob
    import os

    assert catalog.is_local, "parquet-footer shortcut is local-FS only"
    base = catalog.path(table)
    for f in glob.glob(os.path.join(base, "**", "*.parquet"), recursive=True):
        yield f


def _footer_column_max(catalog: Catalog, table: str, col: str):
    """Exact max of a column from parquet footer statistics (no job).
    On a remote-FS catalog (file://, hdfs://, s3a://) footers aren't
    os.path-reachable — return None so the caller scans, instead of the
    local glob silently matching nothing."""
    import pyarrow.parquet as pq

    if not catalog.is_local:
        return None  # stats unreachable -> caller must scan
    best = None
    for f in _iter_parquet_files(catalog, table):
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            continue
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None  # stats missing -> caller must scan
            best = st.max if best is None else max(best, st.max)
    return best


def _footer_row_counts(catalog: Catalog, table: str) -> dict:
    import pyarrow.parquet as pq

    if not catalog.is_local:
        # remote FS: one Spark count instead of a local glob that would
        # silently return {} (and report rows_kept=0)
        return {catalog.path(table): catalog.read(table).count()}
    counts: dict[str, int] = {}
    for f in _iter_parquet_files(catalog, table):
        counts[f] = pq.ParquetFile(f).metadata.num_rows
    return counts


@dataclass(frozen=True)
class RetentionPolicy:
    """max_age[tier] = number of most-recent time buckets retained;
    tiers absent from the map are kept forever."""

    max_age: dict[int, int] = field(default_factory=dict)

    def cutoff(self, tier: int, newest_bucket: int) -> int | None:
        if tier not in self.max_age:
            return None
        return newest_bucket - self.max_age[tier] + 1


def enforce_retention(
    catalog: Catalog,
    table: str,
    tier: int,
    policy: RetentionPolicy,
    newest_bucket: int | None = None,
) -> dict:
    """Drop rows older than the policy cutoff from a tier table.

    Returns {'cutoff', 'rows_dropped', 'rows_kept'}.  ``newest_bucket``
    defaults to the table's max time_bucket (age measured from the data
    horizon, not wall-clock, so enforcement is deterministic/testable).
    """
    df = catalog.read(table)
    if newest_bucket is None:
        # data horizon from parquet footer column statistics — exact,
        # metadata-only, no Spark job (Iceberg manifests likewise)
        newest_bucket = _footer_column_max(catalog, table, "time_bucket")
        if newest_bucket is None:  # stats absent -> scan fallback
            newest_bucket = df.agg(F.max("time_bucket")).first()[0]
        if newest_bucket is None:
            return {"cutoff": None, "rows_dropped": 0, "rows_kept": 0}
    cutoff = policy.cutoff(tier, int(newest_bucket))
    if cutoff is None:
        return {
            "cutoff": None,
            "rows_dropped": 0,
            "rows_kept": sum(
                _footer_row_counts(catalog, table).values()
            ),
        }

    # one per-source aggregation yields totals AND the touched set
    per_source = (
        df.groupBy("source")
        .agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("time_bucket") < cutoff, 1)).alias(
                "expired"
            ),
        )
        .collect()
    )
    total = sum(r["total"] for r in per_source)
    expired = sum(r["expired"] for r in per_source)
    counts = {"total": total, "expired": expired}
    if expired == 0:
        return {"cutoff": cutoff, "rows_dropped": 0, "rows_kept": total}

    # rewrite only the source partitions that contain expired buckets
    touched = {r["source"] for r in per_source if r["expired"] > 0}
    kept_in_touched = df.where(
        F.col("source").isin(touched) & (F.col("time_bucket") >= cutoff)
    )
    # Stage the survivors to a scratch table first: writing a table onto
    # itself would delete input files mid-read (Iceberg's MERGE does this
    # swap transactionally; this is the Parquet-fallback equivalent).
    import os
    import shutil

    staging = f"{table}__retention_staging"
    catalog.drop(staging)
    catalog.write(
        kept_in_touched, staging, partition_by=("source",), mode="overwrite"
    )
    if catalog.is_local:
        for source in touched:
            live = os.path.join(catalog.path(table), f"source={source}")
            staged = os.path.join(catalog.path(staging), f"source={source}")
            if os.path.isdir(live):
                shutil.rmtree(live)
            if os.path.isdir(staged):
                shutil.move(staged, live)
    else:
        # remote FS: dynamic partition overwrite from a FRESH scan of the
        # staging table (never reads the files it is overwriting), then
        # explicitly drop touched partitions that kept NO survivors —
        # dynamic overwrite only rewrites partitions present in the data
        staged_sources: set = set()
        if catalog.exists(staging):
            staged = catalog.read(staging)
            catalog.write(
                staged, table, partition_by=("source",),
                mode="overwrite_partitions",
            )
            staged_sources = {
                r["source"]
                for r in staged.select("source").distinct().collect()
            }
        for source in touched - staged_sources:
            catalog.drop(f"{table}/source={source}")
    catalog.drop(staging)
    return {
        "cutoff": cutoff,
        "rows_dropped": int(counts["expired"]),
        "rows_kept": int(counts["total"] - counts["expired"]),
    }


def enforce_pyramid_retention(
    catalog: Catalog,
    run_kind: str,
    num_tiers: int,
    policy: RetentionPolicy,
    newest_bucket: int | None = None,
) -> dict[int, dict]:
    """Apply the policy to every tier table of a pyramid run."""
    results = {}
    for tier in range(1, num_tiers + 1):
        table = tier_table(run_kind, tier)
        if catalog.exists(table):
            results[tier] = enforce_retention(
                catalog, table, tier, policy, newest_bucket
            )
    return results
