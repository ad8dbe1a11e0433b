"""Table catalog shim: plain partitioned Parquet + per-partition
dynamic overwrite.

The engine only relies on three capabilities — partitioned append,
partition-level overwrite (the MERGE-lite used for resume), and read —
all of which plain Parquet provides via Spark's dynamic partition
overwrite.  SURVEY.md §7 risk 'Iceberg offline availability'.

Small bookkeeping tables are committed from the driver instead
(``append_table`` / ``select_distinct``): on a local catalog one
pyarrow file per append, written under a hidden name and renamed into
place, and a pyarrow scan to read it back — no Spark job.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def is_local_path(path: str) -> bool:
    """True when ``path`` is a plain local filesystem path safe for
    os.* / shutil metadata shortcuts.  Anything with a URI scheme —
    file://, hdfs://, s3a:// — goes through the Hadoop FileSystem API
    or a Spark scan instead (a local glob on those SILENTLY matches
    nothing, which used to zero out lineage row counts and retention's
    rows_kept).  One-letter schemes are Windows drive letters."""
    from urllib.parse import urlparse

    scheme = urlparse(path).scheme
    return scheme == "" or len(scheme) == 1


class Catalog:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        self.is_local = is_local_path(base_path)
        if self.is_local:
            os.makedirs(base_path, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    def _hadoop_fs(self, p: str):
        """(FileSystem, Path) for a URI via the JVM Hadoop client — the
        FS-agnostic route for file://, hdfs://, s3a:// catalogs."""
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    def exists(self, name: str) -> bool:
        p = self.path(name)
        if not self.is_local:
            fs, jp = self._hadoop_fs(p)
            if not fs.exists(jp):
                return False
            it = fs.listFiles(jp, True)
            while it.hasNext():
                if it.next().getPath().getName().endswith(".parquet"):
                    return True
            return False
        if not os.path.isdir(p):
            return False
        for root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: tuple[str, ...] = (),
        mode: str = "append",
    ) -> None:
        """mode: append | overwrite | overwrite_partitions (rewrites only
        the partitions present in ``df`` — the resume path)."""
        writer = df.write.format("parquet")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if mode == "overwrite_partitions":
            writer = writer.option("partitionOverwriteMode", "dynamic").mode(
                "overwrite"
            )
        else:
            writer = writer.mode(mode)
        writer.save(self.path(name))

    def append_table(self, table: pa.Table, name: str) -> None:
        """Append a small driver-side table as ONE parquet file.

        Local catalog: write ``.part-<uuid>.parquet.tmp`` (hidden, so
        Spark, pyarrow and ``exists`` skip it) and ``os.replace`` it to
        ``part-<uuid>.parquet`` — the rename is the commit, no Spark job
        runs.  Remote catalog: a ``LocalRelation`` append, coalesced to
        one task (its scan would otherwise split over
        ``defaultParallelism`` slices, one file each)."""
        if not self.is_local:
            self.write(self.spark.createDataFrame(table).coalesce(1), name)
            return
        import pyarrow.parquet as pq

        d = self.path(name)
        os.makedirs(d, exist_ok=True)
        final = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{final}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(d, final))

    def select_distinct(
        self, name: str, columns: tuple[str, ...], where: dict
    ) -> set[tuple]:
        """Distinct ``columns`` tuples of the rows of ``name`` where
        every ``column == value`` of ``where`` holds; empty when the
        table has no data file.  Local catalog: one pyarrow scan on the
        driver; remote: a Spark scan."""
        if not self.exists(name):
            return set()
        if not self.is_local:
            df = self.read(name)
            for c, v in where.items():
                df = df.where(F.col(c) == v)
            return {tuple(r) for r in df.select(*columns).distinct().collect()}
        import pyarrow.dataset as ds

        flt = None
        for c, v in where.items():
            flt = ds.field(c) == v if flt is None else flt & (ds.field(c) == v)
        t = ds.dataset(
            self.path(name), format="parquet", partitioning="hive"
        ).to_table(columns=list(columns), filter=flt)
        return set(zip(*(t.column(c).to_pylist() for c in columns)))

    def write_bucketed(
        self,
        df: DataFrame,
        table_name: str,
        bucket_cols: tuple[str, ...],
        n_buckets: int = 32,
        sort_cols: tuple[str, ...] = (),
    ) -> None:
        """Persist a bucketed (pre-shuffled) table: joins and
        aggregations on ``bucket_cols`` between tables bucketed the same
        way need NO exchange — the co-located-join strategy for
        repeatedly-joined 100TB fact tables (SURVEY.md §4).  Bucketing
        requires the session catalog (``saveAsTable``), so these live
        in spark.sql.warehouse.dir rather than under base_path."""
        writer = (
            df.write.format("parquet")
            .mode("overwrite")
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table_name)

    def read_table(self, table_name: str) -> DataFrame:
        return self.spark.table(table_name)

    def drop(self, name: str) -> None:
        p = self.path(name)
        if not self.is_local:
            fs, jp = self._hadoop_fs(p)
            if fs.exists(jp):
                fs.delete(jp, True)
            return
        import shutil

        if os.path.isdir(p):
            shutil.rmtree(p)

    def compact(
        self,
        name: str,
        partition_by: tuple[str, ...] = ("source",),
        target_partitions: int | None = None,
    ) -> int:
        """Rewrite a table into fewer, larger files (small-file compaction
        — incremental appends/streaming micro-batches accrete small files
        that degrade scan parallelism accounting at scale).  Stages to a
        scratch dir then swaps, so a crash never loses the live table.
        Returns the file count after compaction."""
        import shutil

        df = self.read(name)
        if target_partitions:
            df = df.repartition(target_partitions, *partition_by) if partition_by else df.repartition(target_partitions)
        staging = f"{name}__compact_staging"
        self.drop(staging)
        self.write(df, staging, partition_by=partition_by, mode="overwrite")
        live, staged = self.path(name), self.path(staging)
        backup = live + "__pre_compact"
        if self.is_local:
            shutil.move(live, backup)
            shutil.move(staged, live)
            shutil.rmtree(backup)
            n = 0
            for _root, _dirs, files in os.walk(live):
                n += sum(1 for f in files if f.endswith(".parquet"))
            return n
        # remote FS: same crash-safe swap via Hadoop rename (atomic on
        # HDFS; object stores get the Iceberg catalog instead)
        fs, jlive = self._hadoop_fs(live)
        jstaged = self._hadoop_fs(staged)[1]
        jbackup = self._hadoop_fs(backup)[1]
        fs.rename(jlive, jbackup)
        fs.rename(jstaged, jlive)
        fs.delete(jbackup, True)
        n = 0
        it = fs.listFiles(jlive, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n
