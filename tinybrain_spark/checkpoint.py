"""Per-partition lineage + metrics checkpointing (north_rule: 'checkpoints
per-partition lineage and rollup metrics ... so any tier can resume
mid-pyramid').

Lineage granularity is (run kind, tier, source): one row per completed
source partition per tier, carrying row counts.  Each pyramid pass
commits from the driver: the rows of every tier it built become one
lineage file and one metrics file (``Catalog.append_table``), with no
Spark job on a local catalog.  Resume reads the completed pairs with
one lineage scan (``Catalog.select_distinct``, driver-side on a local
catalog): only missing (tier, source) partitions are written (the
pyramid table is partitioned by tier and source, so a crashed partial
write is overwritten partition-wise).  A crash between the data write
and the commit leaves no lineage, so the next pass reruns those
sources.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
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

# Per-source rows and the per-tier points/checksum/min_n_tok come from
# the manifest of the files the workers wrote (local catalog; Iceberg
# manifests carry the same).  On a URI-scheme catalog the rows come from
# a per-partition count and the tier metrics from df.observe on the
# write job itself.
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


# The driver-side commit writes Arrow; completed_at lands as
# timestamp[us, tz=UTC], which Spark reads back as ``timestamp`` next to
# the INT96 files Spark itself writes.
LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)
METRICS_ARROW = to_arrow_schema(METRICS_SCHEMA)


def _arrow(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    )


class CheckpointStore:
    def __init__(self, catalog: Catalog):
        self.catalog = catalog

    # -- lineage ---------------------------------------------------------

    def completed_sources(self, run_kind: str) -> dict[int, set[str]]:
        """{tier: sources} with complete lineage, from one lineage scan."""
        done: dict[int, set[str]] = {}
        for tier, source in self.catalog.select_distinct(
            LINEAGE_TABLE,
            ("tier", "source"),
            {"run_kind": run_kind, "status": "complete"},
        ):
            done.setdefault(tier, set()).add(source)
        return done

    def record_tier(
        self,
        run_kind: str,
        per_source: list[dict],
        totals: dict[int, dict],
        wall_sec: float,
    ) -> None:
        """Commit one pass over every tier it built: one lineage file
        (none when no partition is new) and one metrics file.
        per_source: rows of {tier, source, rows_in, rows_out};
        totals: {tier -> {rows_out, points_out, checksum, min_n_tok}};
        every metrics row carries the pass wall."""
        ts = dt.datetime.now(dt.timezone.utc)
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
            self.catalog.append_table(
                _arrow(lineage_rows, LINEAGE_ARROW), LINEAGE_TABLE
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
        self.catalog.append_table(_arrow(metrics, METRICS_ARROW), METRICS_TABLE)
