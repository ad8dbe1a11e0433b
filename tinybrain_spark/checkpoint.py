"""Per-partition lineage + metrics checkpointing (north_rule: 'checkpoints
per-partition lineage and rollup metrics ... so any tier can resume
mid-pyramid').

Lineage granularity is (run kind, tier, source): one row per completed
source partition per tier, carrying row counts; each pyramid pass
appends the rows of every tier it built at once.  Resume reads the
completed pairs with one lineage scan: only missing (tier, source)
partitions are written (the pyramid table is partitioned by tier and
source, so a crashed partial write is overwritten partition-wise).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .catalog import Catalog

LINEAGE_TABLE = "lineage"
METRICS_TABLE = "metrics"

# Per-source rows come from parquet footers (metadata-only; Iceberg
# manifests carry them natively); per-source VALUE sums would need a
# second scan per tier, so points/checksum live at tier granularity in
# METRICS, computed by df.observe on the write job itself.
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_kind", StringType(), False),
        StructField("tier", IntegerType(), False),
        StructField("source", StringType(), False),
        StructField("rows_in", LongType(), False),
        StructField("rows_out", LongType(), False),
        StructField("status", StringType(), False),
        StructField("completed_at", TimestampType(), False),
    ]
)

METRICS_SCHEMA = StructType(
    [
        StructField("run_kind", StringType(), False),
        StructField("tier", IntegerType(), False),
        StructField("rows_out", LongType(), False),
        StructField("points_out", LongType(), False),
        StructField("checksum", LongType(), False),
        StructField("min_n_tok", LongType(), False),
        StructField("wall_sec", DoubleType(), False),
        StructField("points_per_sec", DoubleType(), False),
        StructField("completed_at", TimestampType(), False),
    ]
)


class CheckpointStore:
    def __init__(self, catalog: Catalog):
        self.catalog = catalog

    # -- lineage ---------------------------------------------------------

    def completed_sources(self, run_kind: str) -> dict[int, set[str]]:
        """{tier: sources} with complete lineage, from one lineage scan."""
        if not self.catalog.exists(LINEAGE_TABLE):
            return {}
        done: dict[int, set[str]] = {}
        for r in (
            self.catalog.read(LINEAGE_TABLE)
            .where(
                (F.col("run_kind") == run_kind)
                & (F.col("status") == "complete")
            )
            .select("tier", "source")
            .distinct()
            .collect()
        ):
            done.setdefault(r["tier"], set()).add(r["source"])
        return done

    def record_tier(
        self,
        run_kind: str,
        per_source: list[dict],
        totals: dict[int, dict],
        wall_sec: float,
    ) -> None:
        """Record one pass over every tier it built: one lineage append
        and one metrics append.  per_source: rows of {tier, source,
        rows_in, rows_out} (parquet-footer counts); totals: {tier ->
        {rows_out, points_out, checksum, min_n_tok}} observed on the
        write job; every metrics row carries the pass wall."""
        import datetime as dt

        spark = self.catalog.spark
        ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        lineage_rows = [
            (
                run_kind,
                r["tier"],
                r["source"],
                int(r["rows_in"]),
                int(r["rows_out"]),
                "complete",
                ts,
            )
            for r in per_source
        ]
        if lineage_rows:
            self.catalog.write(
                spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA),
                LINEAGE_TABLE,
                mode="append",
            )
        metrics = [
            (
                run_kind,
                tier,
                int(t["rows_out"]),
                int(t["points_out"]),
                int(t["checksum"]),
                int(t["min_n_tok"]),
                float(wall_sec),
                t["points_out"] / wall_sec if wall_sec > 0 else 0.0,
                ts,
            )
            for tier, t in sorted(totals.items())
        ]
        self.catalog.write(
            spark.createDataFrame(metrics, METRICS_SCHEMA),
            METRICS_TABLE,
            mode="append",
        )
