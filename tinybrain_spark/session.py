"""SparkSession factory with engine defaults.

Tuned for a single JVM (``local[n]`` over the cores this process may
use) but every setting is the one we'd ship to a 1000-executor
cluster: AQE on (runtime skew-join splitting + partition coalescing),
Arrow-batched Python exchange with a bounded batch size so
executor-python memory stays flat regardless of input size, UTC
session time so time-bucket arithmetic matches any SQL oracle, and
Python workers forked from the engine's own daemon
(``tinybrain_spark.daemon``), which spares every task a re-read of
``pyspark.zip``.

``load_table`` reads a parquet table with the schema its footers give,
so the read launches no schema-inference job, and fans the scan out
when the row groups cannot feed the cores.
"""

from __future__ import annotations

import glob
import json
import logging
import os
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType


def _default_cpus() -> int:
    """Cores for ``local[n]``: ``SPARK_GRAFT_CPUS`` when set, else the
    cores this process may run on (not a fixed count, so the default
    plan does not depend on which host it was tuned on)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


DEFAULT_CPUS = _default_cpus()

# Transparent-huge-page hardening, always on.
#
# Production rationale: big-heap JVMs and Arrow-batched python workers
# fault in GBs of anonymous memory; madvise-THP cuts first-touch page
# faults 512x (2 MB vs 4 KB granularity) and TLB pressure thereafter —
# standard tuning for exactly this engine shape on any cluster.
#
# Sandbox rationale (measured, BENCH/NOTES.md r05g): this VM's host
# services 4 KB first-touch faults at 5-130 MB/s for hours at a time
# while 2 MB (madvised) faults run 0.2-3.5 GB/s in the SAME windows —
# THP allocation makes the engine's wall times insensitive to the
# host's 4K-fault pathology instead of 2-5x hostage to it.
_JVM_THP_FLAG = "-XX:+UseTransparentHugePages"


def _thp_env_defaults() -> None:
    """Export allocator THP knobs BEFORE the JVM starts (the JVM and the
    pyspark.daemon it spawns inherit this environment; the already-
    running driver python is unaffected — only child processes).

    - glibc malloc (numpy/pandas buffers in every python worker):
      ``glibc.malloc.hugetlb=1`` madvises MADV_HUGEPAGE on the mmaps
      backing large allocations (glibc >= 2.35).
    - Arrow's bundled jemalloc (pyarrow IPC buffers): ``thp:always``
      madvises arena chunks; decay -1 retains purged pages at the
      high-water mark (bounded by the Arrow batch working set) so
      steady-state batches re-fault nothing.
    """
    os.environ.setdefault("GLIBC_TUNABLES", "glibc.malloc.hugetlb=1")
    os.environ.setdefault(
        "JE_ARROW_MALLOC_CONF",
        "thp:always,dirty_decay_ms:-1,muzzy_decay_ms:-1",
    )

# tokens arrays are ~256 int32 ≈ 1 KB/row plus an int64 accumulator
# column (~2 KB); 4096 rows/batch ≈ 12 MB per Arrow batch per core —
# bounded python-worker memory even at 10^12-row scale (SURVEY.md §4).
ARROW_BATCH_ROWS = 4096


def get_spark(
    app_name: str = "tinybrain-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cpus)

    # executor python workers import this package by name (pandas/Arrow
    # UDFs pickle references, not code).  A driver launched from an
    # arbitrary cwd has the repo root only on ITS OWN sys.path — the
    # workers inherit PYTHONPATH, not sys.path — so pin the package
    # root into the env BEFORE the JVM starts (on a real cluster the
    # same role is played by --py-files tinybrain_spark.zip).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{py_path}" if py_path else pkg_root
        )

    # keep the JVM heap modest: the heavy data lives in Arrow buffers on
    # the Python side, and >8g heaps trigger GC/huge-page stalls in this
    # sandbox (measured: 24g heap degrades a 1s scan to 18s)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g")

    extra_conf = dict(extra_conf or {})
    _thp_env_defaults()
    user_jvm = extra_conf.get("spark.driver.extraJavaOptions", "")
    if _JVM_THP_FLAG not in user_jvm:
        extra_conf["spark.driver.extraJavaOptions"] = (
            f"{user_jvm} {_JVM_THP_FLAG}".strip()
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode: driver JVM == executor; the 1g default heap starves
        # 32 concurrent tasks (on a real cluster this maps to executor mem)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.maxResultSize", "4g")
        # sandbox-scale split size so small benchmark files still fan out
        # across all cores; a real cluster with 100TB of >=128MB files
        # would keep the 128MB default (env-overridable)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"),
        )
        .config("spark.sql.files.openCostInBytes", "1048576")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the Python workers fork from the engine's daemon and drop their
        # zip importers before each task, so the task's
        # invalidate_caches() re-reads no archive
        # (tinybrain_spark/daemon.py); it is found through the
        # PYTHONPATH pinned above
        .config("spark.python.daemon.module", "tinybrain_spark.daemon")
    )
    for key, val in extra_conf.items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Scan fan-out (r06, guide §2/§6): a parquet ROW GROUP is Spark's
# atomic scan unit — maxPartitionBytes can split a file into byte
# ranges, but only the range containing a row-group start reads
# anything.  The driver-generated tables here are single-row-group
# files (documents/events at every sf), so every scan — and all the
# map work pipelined into it (regex split, explode, md5, timestamp
# math) — ran on ONE core of 32 (measured r06: q_dup_spans 15.0 s ->
# 5.6 s at sf1.0 from this change alone).  When the footer says the
# layout cannot feed the cores, hash-repartition on the table's unique
# key right after the read: one tiny exchange of the raw rows buys
# 32-way parallelism for everything pipelined above the scan.
#
# Scale-adaptive by construction (never a local-only constant): a real
# 100 TB table has thousands of row groups, so `splits >= cores` and
# the plan is unchanged; and inputs too small to amortize a shuffle
# (rows/split below _FANOUT_MIN_ROWS) are also left alone — sf0.001
# test fixtures keep their pinned plans.  Filters and column pruning
# push through RepartitionByExpression, so PushedFilters/ReadSchema
# pins are unaffected.  Hash (not round-robin) partitioning on a
# unique key: deterministic under task retry (guide §2.5) and skew-
# free.  A caller turns it off per read with ``fanout_on=[]``.
_FANOUT_MIN_ROWS = 4096
# Default fan-out tables: only those whose downstream map work is
# heavy per row (regex split + explode + md5 over text; vector GEMM
# prep) — measured 2-8x per-query wins at sf1.0.  events is NOT fanned
# out by default: its consumers mostly project a few timestamp/int
# expressions and immediately aggregate, and the blind extra exchange
# measured as a net loss (A/B in OPTIMIZATION_r06.md) — queries whose
# first exchange is on a known key opt in per call site via
# ``fanout_on`` (the added exchange then doubles as the exchange the
# query needed anyway, so the scan-side projection parallelizes for
# free).
_FANOUT_DEFAULT_KEYS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# Per-table fan-out row floors (r06, measured): the break-even input
# size depends on per-row map cost, not on a universal constant.  A
# document row costs ~50-100x an event row (regex split + ~50-window
# explode + md5 each vs a couple of timestamp casts), so documents
# repay a 64-way exchange from ~16k rows (sf1.0: 50k -> 2-8x wins)
# while at 5k rows (sf0.1) the same exchange measured as a net loss
# on every light consumer (A/B table in OPTIMIZATION_r06.md).  Keyed
# event call sites pass their own floor (~300k) for the same reason.
_FANOUT_DEFAULT_MIN_ROWS = {
    "documents": 16384,
    "embeddings": 16384,
}


# Footer probes, memoized per path on the file listing (names, sizes,
# mtimes): an unchanged table opens no footer twice, a rewritten one is
# probed again.
_FOOTER_CACHE: dict[str, tuple[tuple, "_Footers"]] = {}

# footer key under which Spark's parquet writer stores the table schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class _Footers(NamedTuple):
    # (natural_splits, rows): row groups are the real scan-parallelism
    # bound, whatever maxPartitionBytes says
    layout: tuple[int, int]
    schema: pa.Schema | None  # None: no footer read, or files disagree
    spark_schema: bytes | None  # the Spark writer's own schema JSON


def _read_footers(path: str) -> _Footers:
    """Everything ``load_table`` needs from a table's parquet footers,
    read once per listing.

    A probe that reads no footer (a remote URI the local filesystem
    cannot see, an empty glob, an unreadable footer) returns a wide
    layout and no schema, which turns fan-out off and leaves the schema
    to Spark's inference job, and logs a WARNING saying so — once,
    since the result is memoized."""
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(
            set(glob.glob(os.path.join(path, "*.parquet")))
            | set(glob.glob(os.path.join(path, "part-*")))
        )
    )
    try:
        stamp = tuple(
            (f, st.st_size, st.st_mtime_ns)
            for f, st in ((f, os.stat(f)) for f in files)
        )
    except OSError:
        stamp = None  # listing changed under us: probe, don't memoize
    hit = _FOOTER_CACHE.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    try:
        pfs = [pq.ParquetFile(f) for f in files]
        schema = pfs[0].schema_arrow if pfs else None
    except (OSError, pa.ArrowException):
        pfs = []
    if pfs:
        metas = [pf.metadata for pf in pfs]
        same = all(m.schema.equals(metas[0].schema) for m in metas[1:])
        footers = _Footers(
            (
                sum(m.num_row_groups for m in metas) or 1,
                sum(m.num_rows for m in metas),
            ),
            schema if same else None,
            (metas[0].metadata or {}).get(_SPARK_SCHEMA_KEY) if same else None,
        )
    else:
        footers = _Footers((1 << 30, 0), None, None)
        logging.getLogger(__name__).warning(
            "no parquet footer readable under %s; scan fan-out is off "
            "and Spark infers its schema", path,
        )
    if stamp is not None:
        _FOOTER_CACHE[path] = (stamp, footers)
    return footers


def _footer_schema(
    spark: SparkSession, footers: _Footers
) -> StructType | None:
    """The schema ``spark.read.parquet`` would infer, from footers
    already read: the Spark writer's stored schema when there is one
    (Spark reads that key first too), else the Arrow schema converted
    under the session's timestamp-NTZ inference rule.  None when the
    footers give no single schema or hold a type the conversion does
    not know; the caller then lets Spark infer it."""
    if footers.spark_schema is not None:
        return StructType.fromJson(json.loads(footers.spark_schema))
    if footers.schema is None:
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    try:
        return from_arrow_schema(
            footers.schema, prefer_timestamp_ntz=ntz.lower() == "true"
        )
    except TypeError:
        return None


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fanout_on: list[str] | None = None,
    fanout_min_rows: int | None = None,
):
    """Read one driver-provided parquet table (TESTDATA.md), fanning
    the scan out across cores when the file layout cannot (see the
    fan-out note above).  ``fanout_on``: hash keys for a caller-chosen
    fan-out — pass the downstream partition key so the added exchange
    substitutes for the one the query would plan anyway; pass ``[]``
    to suppress the table default (queries whose per-row work is too
    light to repay the exchange, e.g. one md5 per doc).

    The schema comes from the footers the fan-out probe reads, so the
    read launches no schema-inference job (a 1-task job per call
    otherwise)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    footers = _read_footers(path)
    schema = _footer_schema(spark, footers)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    keys = _FANOUT_DEFAULT_KEYS.get(name) if fanout_on is None else fanout_on
    if keys:
        cores = spark.sparkContext.defaultParallelism
        splits, rows = footers.layout
        floor = (
            fanout_min_rows
            if fanout_min_rows is not None
            else _FANOUT_DEFAULT_MIN_ROWS.get(name, _FANOUT_MIN_ROWS)
        )
        if splits < cores and rows // splits >= floor:
            from pyspark.sql import functions as _F

            df = df.repartition(2 * cores, *[_F.col(k) for k in keys])
    return df


def pin(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage — the one way the
    engine pins an intermediate (an iterative round whose plan would
    otherwise keep growing, a table several consumers read, rows whose
    backing files are about to be deleted).  One eager job, like the
    ``localCheckpoint()`` it generalizes.

    Recovery rule: when the session has a checkpoint dir (Spark's own
    ``spark.checkpoint.dir`` or ``SparkContext.setCheckpointDir``, a
    deployment path), the pin is a reliable ``checkpoint()`` whose
    files survive executor loss; otherwise it is ``localCheckpoint()``
    in executor storage, which is lost with the executor."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()
