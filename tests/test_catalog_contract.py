"""Catalog shim contract: with no Iceberg jar in the sandbox, the
engine's resume path uses parquet dynamic partition overwrite.  These
tests pin that its semantics equal what an Iceberg
`MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT` keyed on
the partition column would produce, so swapping the backend cannot
change results (VERDICT r01 item 9; SURVEY.md §7 risk 'Iceberg offline
availability')."""

import pytest
from pyspark.sql import functions as F

from tinybrain_spark.catalog import Catalog


def _rows(df):
    return sorted((r["source"], r["k"], r["v"]) for r in df.collect())


@pytest.fixture()
def catalog(spark, workdir):
    return Catalog(spark, workdir)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "source string, k long, v string")


def test_partition_overwrite_equals_merge(spark, catalog):
    """Recomputing one partition + adding a new one must behave like a
    partition-keyed MERGE: untouched partitions byte-identical, touched
    partitions fully replaced (stale rows gone), new partitions added."""
    initial = _mk(
        spark,
        [("a", 1, "a1"), ("a", 2, "a2"), ("b", 1, "b1-stale"),
         ("b", 2, "b2-stale"), ("b", 3, "b3-stale")],
    )
    catalog.write(initial, "t", partition_by=("source",), mode="overwrite")

    # the resume rewrite: partition b recomputed (FEWER rows — stale
    # extras must vanish), partition c is new, partition a untouched
    delta = _mk(spark, [("b", 1, "b1-new"), ("c", 1, "c1")])
    catalog.write(delta, "t", partition_by=("source",),
                  mode="overwrite_partitions")

    # the MERGE oracle, computed independently: delete-then-insert per
    # partition present in the delta
    expected = sorted(
        [("a", 1, "a1"), ("a", 2, "a2"), ("b", 1, "b1-new"), ("c", 1, "c1")]
    )
    assert _rows(catalog.read("t")) == expected


def test_overwrite_partitions_is_idempotent(spark, catalog):
    """Re-running a completed partition's write (the crash-replay case)
    must be a no-op in content — the exactly-once property resume
    relies on."""
    df = _mk(spark, [("a", 1, "a1"), ("b", 1, "b1")])
    catalog.write(df, "t", partition_by=("source",), mode="overwrite")
    replay = _mk(spark, [("b", 1, "b1")])
    for _ in range(2):
        catalog.write(replay, "t", partition_by=("source",),
                      mode="overwrite_partitions")
        assert _rows(catalog.read("t")) == [("a", 1, "a1"), ("b", 1, "b1")]


def test_empty_delta_touches_nothing(spark, catalog):
    """A resume run with zero pending partitions must leave every
    existing partition intact (MERGE with an empty source)."""
    df = _mk(spark, [("a", 1, "a1"), ("b", 1, "b1")])
    catalog.write(df, "t", partition_by=("source",), mode="overwrite")
    empty = _mk(spark, []).where(F.lit(False))
    catalog.write(empty, "t", partition_by=("source",),
                  mode="overwrite_partitions")
    assert _rows(catalog.read("t")) == [("a", 1, "a1"), ("b", 1, "b1")]


def test_append_accumulates(spark, catalog):
    catalog.write(_mk(spark, [("a", 1, "x")]), "t",
                  partition_by=("source",), mode="append")
    catalog.write(_mk(spark, [("a", 2, "y")]), "t",
                  partition_by=("source",), mode="append")
    assert _rows(catalog.read("t")) == [("a", 1, "x"), ("a", 2, "y")]


# ---------------------------------------------------------------------------
# remote-FS catalog (file:// scheme exercises every non-local branch —
# Hadoop FileSystem API + Spark-scan metadata fallbacks — on local disk)
# ---------------------------------------------------------------------------


@pytest.fixture()
def remote_catalog(spark, workdir):
    return Catalog(spark, f"file://{workdir}/remote")


def test_remote_scheme_catalog_roundtrip(spark, remote_catalog):
    cat = remote_catalog
    assert not cat.is_local
    assert not cat.exists("t")
    cat.write(_mk(spark, [("a", 1, "x"), ("b", 1, "y")]), "t",
              partition_by=("source",), mode="overwrite")
    assert cat.exists("t")
    assert _rows(cat.read("t")) == [("a", 1, "x"), ("b", 1, "y")]
    delta = _mk(spark, [("b", 1, "b-new"), ("c", 1, "c1")])
    cat.write(delta, "t", partition_by=("source",),
              mode="overwrite_partitions")
    assert _rows(cat.read("t")) == sorted(
        [("a", 1, "x"), ("b", 1, "b-new"), ("c", 1, "c1")]
    )
    cat.drop("t")
    assert not cat.exists("t")


def test_remote_retention_swap_and_metadata_fallbacks(spark, remote_catalog):
    """On a URI-scheme catalog the footer shortcuts must fall back to
    Spark scans (NOT silently return {} / rows_kept=0), and the staging
    swap must go through dynamic partition overwrite — including
    dropping a touched partition whose every row expired."""
    from tinybrain_spark.retention import (
        RetentionPolicy,
        _footer_column_max,
        _footer_row_counts,
        enforce_retention,
    )

    cat = remote_catalog
    rows = (
        [("a", b, f"a{b}") for b in range(10)]
        + [("b", b, f"b{b}") for b in range(5)]
        + [("c", 9, "c9")]
    )
    df = spark.createDataFrame(rows, "source string, time_bucket long, v string")
    cat.write(df, "tier", partition_by=("source",), mode="overwrite")

    assert _footer_column_max(cat, "tier", "time_bucket") is None
    assert sum(_footer_row_counts(cat, "tier").values()) == 16

    stats = enforce_retention(cat, "tier", 1, RetentionPolicy({1: 3}))
    spark.catalog.clearCache()
    assert stats == {"cutoff": 7, "rows_dropped": 12, "rows_kept": 4}
    got = sorted(
        (r["source"], r["time_bucket"]) for r in cat.read("tier").collect()
    )
    # a partially expired (keeps 7-9), b FULLY expired (partition gone),
    # c untouched
    assert got == [("a", 7), ("a", 8), ("a", 9), ("c", 9)]
    assert not cat.exists("tier__retention_staging")


def test_retention_stale_staging_from_crashed_run_is_ignored(spark, catalog):
    """Crash-safety of the parquet-fallback swap: a stale staging table
    left by a run that died between the staging write and the swap must
    be dropped by the next run, never merged into the live table."""
    from tinybrain_spark.retention import RetentionPolicy, enforce_retention

    df = spark.createDataFrame(
        [("a", b, f"a{b}") for b in range(10)],
        "source string, time_bucket long, v string",
    )
    catalog.write(df, "tier", partition_by=("source",), mode="overwrite")
    junk = spark.createDataFrame(
        [("zzz", 999, "junk")], "source string, time_bucket long, v string"
    )
    catalog.write(junk, "tier__retention_staging",
                  partition_by=("source",), mode="overwrite")

    enforce_retention(catalog, "tier", 1, RetentionPolicy({1: 2}))
    spark.catalog.clearCache()
    got = sorted(
        (r["source"], r["time_bucket"])
        for r in catalog.read("tier").collect()
    )
    assert got == [("a", 8), ("a", 9)]
    assert not catalog.exists("tier__retention_staging")


def test_remote_pyramid_and_resume(spark, remote_catalog):
    """On a URI-scheme catalog the pass commit is a coalesced
    LocalRelation append and the resume read a Spark scan: a pyramid
    over all but one source, then a resume over all of them, equals the
    single-node kernels row by row, with one lineage row per (tier,
    source) and at most one lineage and one metrics file per pass."""
    import numpy as np

    from tinybrain_spark import kernels as K
    from tinybrain_spark.datagen import generate
    from tinybrain_spark.rollup import RollupConfig, RollupEngine

    df = generate(spark, n_docs=64, n_tok=64, seed=5, num_partitions=4)
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=2, run_kind="rm")
    engine = RollupEngine(spark, remote_catalog.base_path)
    assert not engine.catalog.is_local
    local_base = remote_catalog.base_path[len("file://"):]

    def n_files(table):
        import os

        d = os.path.join(local_base, table)
        return sum(f.endswith(".parquet") for f in os.listdir(d)) \
            if os.path.isdir(d) else 0

    sources = sorted({r["source"] for r in df.select("source").collect()})
    assert len(sources) > 1
    for part in (df.where(F.col("source") != sources[0]), df):
        before = n_files("lineage") + n_files("metrics")
        engine.run_pyramid(part, cfg, resume=True)
        assert n_files("lineage") + n_files("metrics") - before <= 2

    pairs = engine.catalog.read("lineage").groupBy("tier", "source").count()
    got_pairs = {(r["tier"], r["source"]): r["count"] for r in pairs.collect()}
    assert got_pairs == {(t, s): 1 for t in (1, 2) for s in sources}
    base = {r["doc_id"]: np.array(r["tokens"], dtype=np.int32)
            for r in df.select("doc_id", "tokens").collect()}
    for tier in (1, 2):
        got = {r["doc_id"]: r["tokens"]
               for r in engine.read_tier(cfg, tier).collect()}
        assert set(got) == set(base)
        for doc_id, toks in base.items():
            want = K.pool("avg", toks, window=4, num_tiers=tier)[tier - 1]
            assert np.array_equal(np.array(got[doc_id]), want), (tier, doc_id)


# ---------------------------------------------------------------------------
# pyramid tier files written by the Python workers (local catalog) vs by
# Spark's partitioned writer (URI-scheme catalog)
# ---------------------------------------------------------------------------

_ODD_SOURCES = ("a b", "u,v", "naïve", "x:y", "p/q", "r%s")


def test_partition_dir_matches_spark_escaping(spark, workdir):
    """Worker-written partition directories are named exactly as Spark
    names them: every ASCII character against Spark's own escaping, and
    the odd sources against the directories a Spark write creates."""
    import os

    from tinybrain_spark.catalog import partition_dir

    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for c in map(chr, range(1, 128)):
        value = f"a{c}b"
        assert partition_dir("s", value) == f"s={utils.escapePathName(value)}"
    spark.createDataFrame(
        [(s, 1) for s in _ODD_SOURCES], "source string, v long"
    ).write.partitionBy("source").parquet(f"{workdir}/esc")
    written = [d for d in os.listdir(f"{workdir}/esc")
               if d.startswith("source=")]
    assert sorted(written) == sorted(
        partition_dir("source", s) for s in _ODD_SOURCES
    )


def _odd_source_docs(spark, n_docs=48):
    """``generate`` docs whose source is one of three values, two of
    which Spark writes unescaped and escaped ("a b", "x:y")."""
    from tinybrain_spark.datagen import generate

    df = generate(spark, n_docs=n_docs, n_tok=64, seed=21, num_partitions=3)
    pick = F.crc32("doc_id") % 3
    return df.withColumn(
        "source",
        F.when(pick == 0, "a b").when(pick == 1, "x:y").otherwise("plain"),
    )


def _tier_rows(df):
    """Every column of a tier, one tuple per row, in doc_id order."""
    cols = sorted(df.columns)
    return [tuple(r[c] for c in cols) for r in df.orderBy("doc_id").collect()]


def test_mixed_writer_resume(spark, workdir):
    """A pyramid built for all but one source through a ``file://`` URI
    (Spark's writer) and resumed through the plain path of the same
    directory (the workers' pyarrow writer) is one table: one
    directory and one lineage row per (tier, source), every row equal
    to the single-node kernels, and the same file schema through Spark
    and through pyarrow from both writers.  A full rebuild through the
    plain path then replaces the Spark-written partitions in place."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from tinybrain_spark import kernels as K
    from tinybrain_spark.rollup import RollupConfig, RollupEngine

    df = _odd_source_docs(spark).cache()
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=2, run_kind="mix")
    base = f"{workdir}/mixed"
    remote = RollupEngine(spark, f"file://{base}")
    local = RollupEngine(spark, base)
    assert not remote.catalog.is_local and local.catalog.is_local
    # the directory names Spark gives these sources
    spark_dirs = {"a b": "source=a b", "plain": "source=plain",
                  "x:y": "source=x%3Ay"}
    sources = tuple(sorted(spark_dirs))
    toks = {r["doc_id"]: np.array(r["tokens"], dtype=np.int32)
            for r in df.select("doc_id", "tokens").collect()}

    def partitions(tier):
        d = local.catalog.path(cfg.name(tier))
        return {s: os.path.join(d, name) for s, name in spark_dirs.items()}

    def check_table():
        for tier in (1, 2):
            d = local.catalog.path(cfg.name(tier))
            assert sorted(os.listdir(d)) == sorted(
                os.path.basename(p) for p in partitions(tier).values()
            )
            got = {r["doc_id"]: r["tokens"]
                   for r in local.read_tier(cfg, tier).collect()}
            assert set(got) == set(toks)
            for doc_id, t in toks.items():
                want = K.pool("avg", t, window=4, num_tiers=tier)[tier - 1]
                assert np.array_equal(np.array(got[doc_id]), want), \
                    (tier, doc_id)

    remote.run_pyramid(df.where(F.col("source") != "a b"), cfg)
    local.run_pyramid(df, cfg)
    check_table()
    pairs = local.catalog.read("lineage").groupBy("tier", "source").count()
    assert {(r["tier"], r["source"]): r["count"] for r in pairs.collect()} \
        == {(t, s): 1 for t in (1, 2) for s in sources}

    def files(source, tier=1):
        d = partitions(tier)[source]
        return [os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet")]

    by_spark, by_arrow = files("x:y"), files("a b")
    assert by_spark and by_arrow
    assert spark.read.parquet(*by_spark).schema \
        == spark.read.parquet(*by_arrow).schema
    schemas = {pq.read_schema(f).remove_metadata()
               for f in by_spark + by_arrow}
    assert len(schemas) == 1

    local.run_pyramid(df, cfg, resume=False)
    check_table()
    for tier in (1, 2):
        for d in partitions(tier).values():
            names = os.listdir(d)
            assert names and all(
                n.startswith("part-") and n.endswith(".parquet")
                for n in names
            ), names
    assert not any(os.path.exists(f) for f in by_spark)


def test_local_remote_pyramid_parity(spark, workdir, remote_catalog):
    """The workers' writer (local catalog) and Spark's writer (URI-scheme
    catalog) build the same avg and mode pyramids: every tier equal in
    every column, accum and denom included, with the same Spark
    schema, and the same metrics and lineage rows."""
    from tinybrain_spark.rollup import RollupConfig, RollupEngine

    df = _odd_source_docs(spark, n_docs=64).cache()
    local = RollupEngine(spark, f"{workdir}/local")
    remote = RollupEngine(spark, remote_catalog.base_path)
    cfgs = (
        RollupConfig(kernel="avg", window=4, num_tiers=3, sparse=True,
                     run_kind="pa"),
        RollupConfig(kernel="mode", window=4, num_tiers=2, run_kind="pm"),
    )
    for cfg in cfgs:
        for engine in (local, remote):
            engine.run_pyramid(df, cfg)
        for tier in range(1, cfg.num_tiers + 1):
            a, b = local.read_tier(cfg, tier), remote.read_tier(cfg, tier)
            assert a.schema == b.schema, (cfg.kernel, tier)
            assert _tier_rows(a) == _tier_rows(b), (cfg.kernel, tier)
        if cfg.kernel == "avg":
            assert {"accum", "denom"} <= set(a.columns)

    def table(engine, name, cols):
        return sorted(tuple(r) for r in
                      engine.catalog.read(name).select(*cols).collect())

    metrics = ("run_kind", "tier", "rows_out", "points_out", "checksum",
               "min_n_tok")
    lineage = ("run_kind", "tier", "source", "rows_in", "rows_out", "status")
    assert table(local, "metrics", metrics) == table(remote, "metrics", metrics)
    assert table(local, "lineage", lineage) == table(remote, "lineage", lineage)
    assert len(table(local, "lineage", lineage)) == 3 * 3 + 2 * 3
