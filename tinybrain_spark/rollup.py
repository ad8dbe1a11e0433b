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

Plan shape of one pass on a local catalog (pinned in
tests/test_plans.py): parquet scan -> range-partitioned exchange (write
clustering only) -> local sort on (source, time_bucket, doc_id) -> one
MapInArrow node that runs the kernels AND writes every (tier, source)
run of ``{run_kind}`` as one pyarrow file under a hidden temp name
(``catalog.TierFileWriter``), emitting one manifest row per file.  The
driver collects the manifest and commits the files by rename
(``Catalog.commit_files``); the lineage rows and tier metrics come from
the manifest, and ``CheckpointStore.record_tier`` commits them with no
further Spark job.  On a URI-scheme catalog the MapInArrow emits one
row per (doc, tier) instead, sorted afterwards on (tier, source,
time_bucket, doc_id) for one Spark write partitioned by (tier, source).
Pooling itself never shuffles.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from . import kernels as K
from .catalog import MANIFEST_SCHEMA, Catalog, TierFileWriter
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


def _write_pass(pool, table_path: str, pass_id: str, skip: dict):
    """The ``mapInArrow`` body of a pass the workers write themselves:
    pool each input batch (sorted by source), hand the tiers to a
    ``TierFileWriter`` and emit its manifest rows."""
    schema = to_arrow_schema(MANIFEST_SCHEMA)

    def write(batches):
        writer = TierFileWriter(table_path, pass_id, skip)
        for batch in batches:
            tiers = {t: b for t, b in enumerate(pool.batches([batch]), 1)}
            rows = writer.add(batch.column("source"), tiers)
            if rows:
                yield pa.RecordBatch.from_pylist(rows, schema=schema)
        rows = writer.flush()
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return write


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
        one kernel pass that also writes the tier files (local catalog;
        a Spark write on a URI-scheme one), then a driver-side commit of
        those files, at most one lineage file and one metrics file.

        With ``resume``, a (tier, source) pair with complete lineage is
        not rewritten: sources complete at every tier leave the input,
        the other complete pairs leave the output before the write.  A
        failed pass leaves no file of its own behind; a crash before
        the lineage commit reruns the pass for its pending sources.

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
        # the other complete (tier, source) pairs are left out of the
        # output, tier by tier
        left_out = {k: s - skip for k, s in done.items() if s - skip}
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
        write = (self._write_local if self.catalog.is_local
                 else self._write_spark)
        try:
            totals, per_source = write(
                cluster_for_write(src), pool, config.run_kind, tiers,
                left_out,
            )
        except Exception as exc:  # surface the in-kernel guard cleanly
            _reraise_kernel_guard(exc)
            raise
        wall = time.time() - t0
        # only newly-computed partitions get lineage; pooling is
        # per-row, so rows_in == rows_out
        lineage = [
            {"tier": k, "source": s, "rows_in": n, "rows_out": n}
            for (k, s), n in sorted(per_source.items())
            if s not in done[k]
        ]
        self.checkpoints.record_tier(run_kind, lineage, totals, wall)
        return {
            k: {"rows_out": t["rows_out"], "points_out": t["points_out"],
                "wall_sec": wall}
            for k, t in totals.items()
        }

    def _write_local(self, clustered, pool, table, tiers, skip):
        """Local catalog: the workers pool and write in one
        ``mapInArrow`` over the input sorted by source, and the driver
        commits their files from the manifest, which also carries the
        tier metrics and the per-(tier, source) row counts."""
        pass_id = uuid.uuid4().hex
        manifest = clustered.sortWithinPartitions(
            "source", "time_bucket", "doc_id"
        ).mapInArrow(
            _write_pass(pool, os.path.abspath(self.catalog.path(table)),
                        pass_id, skip),
            MANIFEST_SCHEMA,
        )
        files = self.catalog.commit_files(manifest, table, pass_id)
        totals = {}
        for k in tiers:
            at = [f for f in files if f["tier"] == k]
            totals[k] = {
                "rows_out": sum(f["rows"] for f in at),
                "points_out": sum(f["points"] for f in at),
                "checksum": sum(f["checksum"] for f in at),
                "min_n_tok": min((f["min_n_tok"] for f in at), default=0),
            }
        per_source: dict[tuple, int] = {}
        for f in files:
            key = (f["tier"], f["source"])
            per_source[key] = per_source.get(key, 0) + f["rows"]
        return totals, per_source

    def _write_spark(self, clustered, pool, table, tiers, skip):
        """Remote (URI-scheme) catalog: Spark's partitioned writer.  Tier
        metrics ride the write job via ``observe`` (no post-write stats
        re-scan) and the per-(tier, source) row counts from one
        count by source per tier."""
        out = pool(clustered)
        for k, sources in skip.items():
            out = out.where(
                (F.col("tier") != k) | ~F.col("source").isin(sorted(sources))
            )
        # the sort comes last, so the writer's required (tier, source)
        # ordering is already met
        obs = Observation(f"{table}_t{tiers[-1]}")
        out = out.observe(obs, *_tier_metrics(tiers)).sortWithinPartitions(
            "tier", "source", "time_bucket", "doc_id"
        )
        self.catalog.write(
            out, table, partition_by=("tier", "source"),
            mode="overwrite_partitions",
        )
        got = obs.get
        totals = {
            k: {
                f: int(got[f"{f}_{k}"] or 0)
                for f in ("rows_out", "points_out", "checksum", "min_n_tok")
            }
            for k in tiers
        }
        per_source = {
            (k, r["source"]): r["n"]
            for k in tiers
            for r in self.catalog.read(tier_table(table, k))
            .groupBy("source")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        return totals, per_source

    def read_tier(self, config: RollupConfig, tier: int) -> DataFrame:
        return self.catalog.read(config.name(tier))
