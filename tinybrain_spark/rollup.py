"""The retention-tier rollup engine — tinybrain's mip pyramid recast as
materialized tiers over a tokenized-sequence table (SURVEY.md §3.4).

Each tier halves/quarters/eighths every row's token array with one of
the five pooling kernels.  Like the reference's ``num_mips`` call
(accelerated.pyx:223-259), every tier comes from one pass over the
base table: AVG tiers chain an int64 block-sum accumulator (+
nonzero-count denominator when sparse), persisted with each tier so
the serving layer can extend it, which keeps integer truncation to
once per cycle; MODE/MAX/MIN/STRIDE tiers pool the previous tier's
rendered output (mode-of-modes, downsample.py:215-217).

Plan shape of one pass (pinned in tests/test_plans.py): parquet scan
-> range-partitioned exchange (write clustering only) -> one
MapInArrow node running the kernels and emitting one row per (doc,
tier) -> local sort on (tier, source, time_bucket, doc_id) -> one write
of ``{run_kind}`` partitioned by (tier, source).  Pooling itself never
shuffles.  The pass then commits its lineage and metrics from the
driver (``CheckpointStore.record_tier``), with no further Spark job on
a local catalog.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import kernels as K
from .catalog import Catalog
from .checkpoint import CheckpointStore
from .partitioning import cluster_for_write
from .udfs import pool_pyramid

TIER_KEY_COLS = ("doc_id", "source", "time_bucket")

_GUARD_MSG = "Can't downsample below one window"


def _reraise_kernel_guard(exc: Exception) -> None:
    """The minimum-size guard runs inside the kernel (per batch, no
    driver pre-scan job); translate the wrapped executor error back to
    the ValueError the reference raises (accelerated.pyx:89-90)."""
    msg = str(exc)
    if _GUARD_MSG in msg:
        detail = next(
            (ln for ln in msg.splitlines() if _GUARD_MSG in ln), _GUARD_MSG
        )
        raise ValueError(detail.strip()) from exc


def tier_table(run_kind: str, tier: int) -> str:
    """Catalog name of one tier: the ``tier=k`` partition of the
    ``run_kind`` table, itself readable as a table partitioned by
    source.  The one place that knows the pyramid layout."""
    return f"{run_kind}/tier={tier}"


@dataclass(frozen=True)
class RollupConfig:
    kernel: str = "avg"  # avg | mode | max | min | stride
    window: int = 4  # 2 | 4 | 8
    num_tiers: int = 3
    sparse: bool = False
    run_kind: str = "default"

    def name(self, tier: int) -> str:
        return tier_table(self.run_kind, tier)

    def validate_static(self) -> None:
        """Window/tier sanity without scanning the data.  The per-row
        minimum-length guard (accelerated.pyx:89-90) is enforced inside
        the kernel on every batch, so a dedicated driver-side
        min(n_tok) pre-scan job is unnecessary; the observed min is
        still recorded in the tier metrics."""
        K.validate_pool_args(
            self.window**self.num_tiers, self.window, self.num_tiers
        )


def _tier_metrics(tiers: range) -> list:
    """Per-tier write metrics as one aggregate (the tier count is known,
    so 'group by tier' unrolls into one expression set per tier)."""
    out = []
    for k in tiers:
        at = F.col("tier") == k
        size = F.when(at, F.size("tokens"))
        total = F.aggregate(
            "tokens", F.lit(0).cast("long"), lambda a, x: a + x
        )
        out += [
            F.count(size).alias(f"rows_out_{k}"),
            F.coalesce(F.sum(size), F.lit(0)).alias(f"points_out_{k}"),
            F.coalesce(F.sum(F.when(at, total)), F.lit(0)).alias(
                f"checksum_{k}"
            ),
            F.min(size).alias(f"min_n_tok_{k}"),
        ]
    return out


class RollupEngine:
    """Materializes a retention pyramid under ``catalog.base_path``.

    One table per run kind, ``{run_kind}`` partitioned by (tier,
    source).  Each tier (``RollupConfig.name``) reads as a standalone
    table (doc_id, source, time_bucket, tokens, n_tok [, accum, denom])
    partitioned by source.
    """

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.catalog = Catalog(spark, base_path)
        self.checkpoints = CheckpointStore(self.catalog)

    # -- public API -------------------------------------------------------

    def run_pyramid(
        self,
        df: DataFrame,
        config: RollupConfig,
        resume: bool = True,
    ) -> dict:
        """Run all tiers in one pass, resuming any (tier, source) whose
        lineage is incomplete.

        Returns {tier -> {rows_out, points_out, wall_sec}}.
        """
        return self.run_tier(df, config, config.num_tiers, resume=resume)

    def run_tier(
        self,
        df: DataFrame,
        config: RollupConfig,
        tier: int,
        resume: bool = True,
    ) -> dict:
        """Materialize the pending tiers ``1..tier`` from the base
        (tier-0) table ``df`` in one pass: one scan, one range exchange,
        one kernel pass, one write, then a driver-side commit of at
        most one lineage file and one metrics file.

        With ``resume``, a (tier, source) pair with complete lineage is
        not rewritten: sources complete at every tier leave the input,
        the other complete pairs leave the output before the write.  A
        crash inside the pass reruns the pass for its pending sources.

        Returns {tier -> {rows_out, points_out, wall_sec}}, counting the
        rows this pass wrote; ``wall_sec`` is the pass wall."""
        config.validate_static()
        if not 1 <= tier <= config.num_tiers:
            raise ValueError(f"tier {tier} outside 1..{config.num_tiers}")
        t0 = time.time()
        tiers = range(1, tier + 1)
        run_kind = f"{config.run_kind}:{config.kernel}{config.window}"
        done = self.checkpoints.completed_sources(run_kind) if resume else {}
        done = {k: done.get(k, set()) for k in tiers}

        src = df.select(*TIER_KEY_COLS, "tokens")
        # source cardinality is low by design, so the complete sets
        # filter as literals: no lineage broadcast job
        skip = set.intersection(*done.values())
        if skip:
            src = src.where(~F.col("source").isin(sorted(skip)))
        # Cluster BEFORE pooling: repartitionByRange samples its child to
        # pick range bounds — with the kernels upstream that would run
        # the whole pooling stage twice.  Pooling is row-wise, so
        # clustering the raw input clusters the output with exactly ONE
        # kernel pass.
        pool = pool_pyramid(
            config.kernel,
            window=config.window,
            num_tiers=tier,
            sparse=config.sparse,
            guard_tiers=config.num_tiers,
        )
        out = pool(cluster_for_write(src))
        for k, sources in done.items():
            if sources - skip:
                out = out.where(
                    (F.col("tier") != k)
                    | ~F.col("source").isin(sorted(sources - skip))
                )

        # tier metrics ride the write job via observe — no post-write
        # stats re-scan (VERDICT r01 item 10).  The sort comes last, so
        # the writer's required (tier, source) ordering is already met.
        obs = Observation(f"{run_kind}_t{tier}")
        out = out.observe(obs, *_tier_metrics(tiers)).sortWithinPartitions(
            "tier", "source", "time_bucket", "doc_id"
        )
        try:
            self.catalog.write(
                out, config.run_kind, partition_by=("tier", "source"),
                mode="overwrite_partitions",
            )
        except Exception as exc:  # surface the in-kernel guard cleanly
            _reraise_kernel_guard(exc)
            raise
        got = obs.get
        wall = time.time() - t0

        # per-(tier, source) lineage rows (resume granularity) from
        # parquet footers — an exact metadata-only read, no Spark job.
        # Per-source VALUE sums would need a second scan, so sums live
        # at tier granularity in the metrics table.
        per_source = [
            # pooling is per-row: rows_in == rows_out
            {"tier": k, "source": s, "rows_in": n, "rows_out": n}
            for k in tiers
            for s, n in sorted(
                self._partition_row_counts(config.name(k)).items()
            )
            if s not in done[k]  # only newly-computed partitions
        ]
        totals = {
            k: {
                f: int(got[f"{f}_{k}"] or 0)
                for f in ("rows_out", "points_out", "checksum", "min_n_tok")
            }
            for k in tiers
        }
        self.checkpoints.record_tier(run_kind, per_source, totals, wall)
        return {
            k: {"rows_out": t["rows_out"], "points_out": t["points_out"],
                "wall_sec": wall}
            for k, t in totals.items()
        }

    def _partition_row_counts(self, table: str, key: str = "source") -> dict:
        """Exact per-partition row counts from parquet footers (metadata
        only — kilobytes even for a 10^9-row tier).  On a remote-FS
        catalog the footers aren't os.path-reachable: fall back to one
        Spark per-partition count (partition-pruned scan) rather than a
        local glob that silently returns {} and re-runs every source on
        resume."""
        import glob
        import os
        from urllib.parse import unquote

        import pyarrow.parquet as pq

        if not self.catalog.is_local:
            return {
                r[key]: r["n"]
                for r in self.catalog.read(table)
                .groupBy(key)
                .agg(F.count("*").alias("n"))
                .collect()
            }

        counts: dict[str, int] = {}
        base = self.catalog.path(table)
        for d in glob.glob(os.path.join(base, f"{key}=*")):
            src = unquote(os.path.basename(d).split("=", 1)[1])
            counts[src] = sum(
                pq.ParquetFile(f).metadata.num_rows
                for f in glob.glob(os.path.join(d, "*.parquet"))
            )
        return counts

    def read_tier(self, config: RollupConfig, tier: int) -> DataFrame:
        return self.catalog.read(config.name(tier))
