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

A local catalog also takes files written by the Python workers
themselves, Iceberg-style: ``TierFileWriter`` writes each (tier,
source) run of a task as one hidden parquet file inside its final
partition directory and reports it in a manifest row;
``Catalog.commit_files`` collects the manifest on the driver and
commits the files by rename.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


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


# Characters Spark escapes as %XX in a partition directory name
# (ExternalCatalogUtils.escapePathName, off Windows).  Everything else,
# spaces, commas and non-ASCII included, stays as it is, so
# urllib.parse.quote does not match it.
_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^")
)
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def partition_dir(column: str, value) -> str:
    """The directory Spark names for ``column=value`` when it writes a
    partitioned table (null and "" become the default partition)."""
    if value is None or value == "":
        return f"{column}={_DEFAULT_PARTITION}"
    text = "".join(f"%{ord(c):02X}" if c in _ESCAPED else c
                   for c in str(value))
    return f"{column}={text}"


# One row per file a worker wrote: its (tier, source) partition, the
# hidden temp path, the path the commit renames it to, and the file's
# tier metrics (rows, sum of n_tok, sum of tokens, min n_tok).
MANIFEST_SCHEMA = StructType(
    [
        StructField("tier", IntegerType(), False),
        StructField("source", StringType(), True),
        StructField("tmp_path", StringType(), False),
        StructField("final_path", StringType(), False),
        StructField("rows", LongType(), False),
        StructField("points", LongType(), False),
        StructField("checksum", LongType(), False),
        StructField("min_n_tok", LongType(), False),
    ]
)


def _temp_prefix(pass_id: str) -> str:
    return f".part-{pass_id}-"


class TierFileWriter:
    """Worker side of a pass written by the Python workers: one per
    task, fed the pooled batches of input sorted by source.

    Each (tier, source) run becomes ONE parquet file with one row group,
    ``.part-<pass>-<partition>-<attempt>-<n>.parquet.tmp`` inside its
    final ``tier=<k>/source=<s>`` directory (hidden, so no reader sees
    it before the commit renames it).  Rows keep their input order.
    The current source's rows are buffered per tier and written when
    the input moves to the next source, so at most one file per tier
    is pending."""

    def __init__(self, table_path: str, pass_id: str,
                 skip: dict[int, set[str]]):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        self.prefix = (f"{_temp_prefix(pass_id)}{ctx.partitionId():05d}"
                       f"-{ctx.attemptNumber()}-")
        self.table_path = table_path
        self.skip = skip
        self.n = 0
        self.source = None
        self.pending: dict[int, list] = {}

    def add(self, source: pa.Array, tiers: dict[int, pa.RecordBatch]):
        """Buffer one input batch: ``source`` is its source column and
        ``tiers`` maps each tier to the batch of pooled rows (same rows,
        same order).  Returns the manifest rows of the files this
        finished."""
        codes = pc.dictionary_encode(source, null_encoding="encode")
        idx = codes.indices.to_numpy(zero_copy_only=False)
        bounds = [0, *(np.flatnonzero(np.diff(idx)) + 1), len(idx)]
        done = []
        for lo, hi in zip(bounds, bounds[1:]):
            if lo == hi:
                continue
            src = codes.dictionary[idx[lo]].as_py()
            if src != self.source:
                done += self.flush()
                self.source = src
            for tier, batch in tiers.items():
                if src not in self.skip.get(tier, ()):
                    self.pending.setdefault(tier, []).append(
                        batch.slice(lo, hi - lo)
                    )
        return done

    def flush(self) -> list[dict]:
        """Write the buffered files; returns their manifest rows."""
        import pyarrow.parquet as pq

        rows = []
        for tier, parts in sorted(self.pending.items()):
            table = pa.Table.from_batches(parts).drop_columns(
                ["tier", "source"]
            )
            d = os.path.join(self.table_path, partition_dir("tier", tier),
                             partition_dir("source", self.source))
            os.makedirs(d, exist_ok=True)
            name = f"{self.prefix}{self.n:05d}.parquet"
            self.n += 1
            tmp = os.path.join(d, f"{name}.tmp")
            pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
            n_tok = table.column("n_tok")
            tokens = pc.list_flatten(table.column("tokens"))
            rows.append({
                "tier": tier, "source": self.source, "tmp_path": tmp,
                "final_path": os.path.join(d, name[1:]),
                "rows": table.num_rows,
                "points": pc.sum(n_tok).as_py() or 0,
                "checksum": pc.sum(tokens).as_py() or 0,
                "min_n_tok": pc.min(n_tok).as_py() or 0,
            })
        self.pending = {}
        return rows


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

    def commit_files(self, manifest: DataFrame, name: str,
                     pass_id: str) -> list:
        """Driver-side commit of a pass whose workers wrote ``name``'s
        files themselves (``TierFileWriter``): ``collect()`` the
        manifest, which runs the writing job, then, per touched
        partition directory, delete what it held (dynamic partition
        overwrite: untouched partitions keep their files) and
        ``os.replace`` each temp file to its final name.  Temp files of
        this pass that no manifest row names (failed or duplicate task
        attempts) are swept; if the job fails, every temp file of the
        pass is, and the error propagates.  Returns the manifest rows."""
        if not self.is_local:
            raise ValueError("workers write files on a local catalog only")
        table = self.path(name)
        try:
            rows = manifest.collect()
        except BaseException:
            self._sweep(table, pass_id)
            raise
        keep = {r["tmp_path"] for r in rows}
        for d in {os.path.dirname(r["final_path"]) for r in rows}:
            for entry in os.scandir(d):
                if entry.is_file() and entry.path not in keep:
                    os.remove(entry.path)
        for r in rows:
            os.replace(r["tmp_path"], r["final_path"])
        self._sweep(table, pass_id)
        return rows

    @staticmethod
    def _sweep(table: str, pass_id: str) -> None:
        """Delete the temp files of pass ``pass_id`` under ``table``,
        then the partition directories left empty."""
        prefix = _temp_prefix(pass_id)
        for root, _dirs, files in os.walk(table, topdown=False):
            for f in files:
                if f.startswith(prefix) and f.endswith(".tmp"):
                    os.remove(os.path.join(root, f))
            if root != table and not os.listdir(root):
                os.rmdir(root)

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
