"""End-to-end Spark rollup tests (FIXTURES.md §F4): synthetic table ->
tier jobs -> per-row token-array equality against the single-node numpy
kernels (the north-rule invariant), plus resume-from-checkpoint,
salting-equivalence and the driver-side commit of the tier files, the
lineage and the metrics (job counts, one file per bookkeeping table per
pass, crash and failure leftovers)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tinybrain_spark import kernels as K
from tinybrain_spark.catalog import Catalog
from tinybrain_spark.checkpoint import LINEAGE_SCHEMA, CheckpointStore
from tinybrain_spark.datagen import generate
from tinybrain_spark.rollup import RollupConfig, RollupEngine

N_DOCS = 96
N_TOK = 256


@pytest.fixture(scope="module")
def base_df(spark):
    df = generate(spark, n_docs=N_DOCS, n_tok=N_TOK, seed=42,
                  num_partitions=4).cache()
    df.count()
    return df


def _tokens_by_doc(df):
    return {r["doc_id"]: np.array(r["tokens"], dtype=np.int32)
            for r in df.select("doc_id", "tokens").collect()}


def _assert_tier_matches(engine, cfg, base_tokens, tiers, **kernel_kw):
    for tier in range(1, tiers + 1):
        got = _tokens_by_doc(engine.read_tier(cfg, tier))
        assert set(got) == set(base_tokens)
        for doc_id, toks in base_tokens.items():
            want = K.pool(cfg.kernel, toks, window=cfg.window,
                          num_tiers=tier, sparse=cfg.sparse, **kernel_kw)[tier - 1]
            assert np.array_equal(got[doc_id], want), (
                f"{cfg.kernel} tier {tier} doc {doc_id}")


@pytest.mark.parametrize("kernel,sparse", [
    ("avg", False), ("avg", True), ("mode", False), ("mode", True),
    ("max", False), ("min", False), ("stride", False),
])
def test_pyramid_matches_kernels(spark, base_df, workdir, kernel, sparse):
    cfg = RollupConfig(kernel=kernel, window=4, num_tiers=3, sparse=sparse,
                       run_kind=f"t_{kernel}_{int(sparse)}")
    engine = RollupEngine(spark, workdir)
    stats = engine.run_pyramid(base_df, cfg)
    assert stats[1]["rows_out"] == N_DOCS
    assert stats[1]["points_out"] == N_DOCS * N_TOK // 4
    base = _tokens_by_doc(base_df)
    _assert_tier_matches(engine, cfg, base, 3)


def test_avg_window8(spark, base_df, workdir):
    cfg = RollupConfig(kernel="avg", window=8, num_tiers=2, run_kind="w8")
    engine = RollupEngine(spark, workdir)
    engine.run_pyramid(base_df, cfg)
    _assert_tier_matches(engine, cfg, _tokens_by_doc(base_df), 2)


def _partition_files(engine, cfg):
    """{(tier, source partition dir): [(file name, st_mtime_ns)]}."""
    out = {}
    for tier in range(1, cfg.num_tiers + 1):
        base = engine.catalog.path(cfg.name(tier))
        for d in os.listdir(base) if os.path.isdir(base) else ():
            if d.startswith("source="):
                out[(tier, d)] = sorted(
                    (e.name, e.stat().st_mtime_ns)
                    for e in os.scandir(os.path.join(base, d))
                )
    return out


def _table_files(engine, table):
    """(visible data files, ``.part-*.tmp`` files) under ``table``."""
    data, tmp = [], []
    for _root, _dirs, files in os.walk(engine.catalog.path(table)):
        data += [f for f in files if f.endswith(".parquet")
                 and not f.startswith((".", "_"))]
        tmp += [f for f in files if f.startswith(".part-")
                and f.endswith(".tmp")]
    return data, tmp


@pytest.mark.parametrize("pre_state", ["tier1-one-source",
                                       "tier1-all-tier2-one-source"])
def test_resume_from_checkpoint(spark, base_df, workdir, pre_state):
    """Complete part of the pyramid, then resume the full run: the
    completed (tier, source) partitions are not rewritten, every pair
    has exactly one lineage row, and every tier equals the single-node
    kernels.  Pre-states: tier 1 complete for one source; tier 1
    complete for every source and tier 2 for one.  "Not rewritten"
    means the same file names with the same ``st_mtime_ns``."""
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=2, run_kind="resume")
    engine = RollupEngine(spark, workdir)

    some_source = base_df.select("source").first()["source"]
    part = base_df.where(F.col("source") == some_source)
    if pre_state == "tier1-one-source":
        engine.run_tier(part, cfg, tier=1)
    else:
        engine.run_tier(base_df, cfg, tier=1)
        engine.run_tier(part, cfg, tier=2)
    before = _partition_files(engine, cfg)
    assert before

    engine.run_pyramid(base_df, cfg, resume=True)

    after = _partition_files(engine, cfg)
    assert {k: after[k] for k in before} == before  # not rewritten
    sources = {r["source"] for r in base_df.select("source").collect()}
    assert set(after) == {(t, f"source={s}") for t in (1, 2) for s in sources}
    lineage = engine.catalog.read("lineage").where(
        F.col("run_kind") == "resume:avg4"
    )
    pairs = lineage.groupBy("tier", "source").count().collect()
    assert {(r["tier"], r["source"]) for r in pairs} == {
        (t, s) for t in (1, 2) for s in sources
    }
    assert all(r["count"] == 1 for r in pairs), pairs

    _assert_tier_matches(engine, cfg, _tokens_by_doc(base_df), 2)


def test_salting_does_not_change_results(spark, base_df, workdir):
    """Pooling is per-row, so any partitioning must yield identical rows."""
    from tinybrain_spark.partitioning import cluster_for_write
    from tinybrain_spark.udfs import pool_tier

    pool = pool_tier("mode", window=4, num_tiers=1)
    plain = pool(base_df.select("doc_id", "tokens")).collect()
    salted = pool(
        cluster_for_write(base_df, num_partitions=7).select("doc_id", "tokens")
    ).collect()
    assert sorted((r["doc_id"], tuple(r["tokens"])) for r in plain) == sorted(
        (r["doc_id"], tuple(r["tokens"])) for r in salted
    )


def test_datagen_deterministic(spark):
    a = generate(spark, n_docs=32, n_tok=64, seed=7, num_partitions=2)
    b = generate(spark, n_docs=32, n_tok=64, seed=7, num_partitions=5)
    ra = {r["doc_id"]: (tuple(r["tokens"]), r["source"], r["time_bucket"])
          for r in a.collect()}
    rb = {r["doc_id"]: (tuple(r["tokens"]), r["source"], r["time_bucket"])
          for r in b.collect()}
    assert ra == rb
    c = generate(spark, n_docs=32, n_tok=64, seed=8, num_partitions=2)
    rc = {r["doc_id"]: tuple(r["tokens"]) for r in c.collect()}
    assert any(rc[k] != ra[k][0] for k in rc)


def test_datagen_skew(spark):
    df = generate(spark, n_docs=512, n_tok=16, seed=42, num_partitions=4)
    counts = {r["source"]: r["cnt"] for r in
              df.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    top = max(counts.values()) / 512
    assert top > 0.2, counts  # Zipf head holds a big share


def test_min_size_guard_job_level(spark, workdir):
    df = generate(spark, n_docs=8, n_tok=8, seed=1, num_partitions=1)
    engine = RollupEngine(spark, workdir)
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=3, run_kind="guard")
    with pytest.raises(ValueError):
        engine.run_pyramid(df, cfg)
    # the failed pass leaves no data file and no temp file behind
    assert _table_files(engine, cfg.run_kind) == ([], [])


def test_commit_sweeps_temp_files_of_the_pass(spark, base_df, workdir):
    """Temp files of the running pass that no manifest row names (a
    failed or duplicate task attempt) are swept by its commit, in the
    partitions it wrote and in those it did not."""
    cfg = RollupConfig(kernel="mode", window=4, num_tiers=2, run_kind="sw")
    engine = RollupEngine(spark, workdir)
    commit = engine.catalog.commit_files
    table = engine.catalog.path(cfg.run_kind)
    some_source = base_df.select("source").first()["source"]
    planted = []

    def plant_then_commit(manifest, name, pass_id):
        for d in (f"tier=1/source={some_source}", "tier=2/source=untouched"):
            os.makedirs(os.path.join(table, d), exist_ok=True)
            planted.append(os.path.join(
                table, d, f".part-{pass_id}-00099-1-00000.parquet.tmp"))
            with open(planted[-1], "wb") as f:
                f.write(b"PAR1 torn write")
        return commit(manifest, name, pass_id)

    engine.catalog.commit_files = plant_then_commit
    engine.run_pyramid(base_df, cfg, resume=False)
    assert planted and not any(os.path.exists(p) for p in planted)
    assert not os.path.exists(os.path.join(table, "tier=2/source=untouched"))
    data, tmp = _table_files(engine, cfg.run_kind)
    assert tmp == [] and data
    _assert_tier_matches(engine, cfg, _tokens_by_doc(base_df), 2)


def test_five_tier_renorm_through_engine(spark, workdir):
    """Tier 5 exercises the cycle-boundary accumulator renormalization
    (bitshift==8 -> shift_right) through the PERSISTED accumulator path."""
    df = generate(spark, n_docs=24, n_tok=4**5, seed=9, num_partitions=2).cache()
    df.count()
    for sparse in (False, True):
        cfg = RollupConfig(kernel="avg", window=4, num_tiers=5, sparse=sparse,
                           run_kind=f"renorm{int(sparse)}")
        engine = RollupEngine(spark, workdir)
        engine.run_pyramid(df, cfg, resume=False)
        base = _tokens_by_doc(df)
        _assert_tier_matches(engine, cfg, base, 5)


def test_salting_splits_hot_source(spark):
    """The Zipf-head source must spread across several output partitions."""
    from pyspark.sql import functions as F
    from tinybrain_spark.partitioning import cluster_for_write

    df = generate(spark, n_docs=2000, n_tok=16, seed=42, num_partitions=8)
    hot = (
        df.groupBy("source").count().orderBy(F.col("count").desc()).first()["source"]
    )
    clustered = cluster_for_write(df, num_partitions=16)
    pid = clustered.where(F.col("source") == hot).select(
        F.spark_partition_id().alias("pid")
    )
    n_parts = pid.distinct().count()
    assert n_parts >= 3, f"hot source {hot} landed in only {n_parts} partitions"


def _jobs_in_group(sc, group):
    """Job ids Spark launched under ``group``, after the listener bus
    has delivered every job event to the status store."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_failed_commit_sweeps_and_reraises(spark, workdir):
    """When the job behind the manifest fails, the commit deletes every
    temp file of the pass and the directories only they held, keeps
    other files, and re-raises."""
    cat = Catalog(spark, workdir)
    table = cat.path("t")
    keep = os.path.join(table, "tier=1", "source=a", "part-old.parquet")
    dead = [os.path.join(table, "tier=1", "source=a",
                         ".part-p1-00000-0-00000.parquet.tmp"),
            os.path.join(table, "tier=2", "source=b",
                         ".part-p1-00001-0-00000.parquet.tmp")]
    for p in (keep, *dead):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "wb").close()
    failing = spark.range(1).select(F.raise_error(F.lit("boom")))
    with pytest.raises(Exception, match="boom"):
        cat.commit_files(failing, "t", "p1")
    assert os.path.exists(keep)
    assert not any(os.path.exists(p) for p in dead)
    assert not os.path.exists(os.path.join(table, "tier=2"))


def test_run_tier_issues_no_stats_rescan_jobs(spark, base_df, workdir):
    """The tier metrics and the per-source lineage rows come from the
    manifest of the files the workers wrote, and the pass commits its
    files, lineage and metrics from the driver, so a whole 2-tier
    pyramid is range sampling plus exchange + kernels + write — with
    no post-write stats re-scan, no pre-flight min(n_tok) scan (VERDICT
    r01 item 10), no per-tier re-read of the previous tier and no
    bookkeeping job.
    A resumed pass over a complete pyramid stays within the same
    bound."""
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=2, run_kind="jc")
    engine = RollupEngine(spark, workdir)
    sc = spark.sparkContext
    for group, resume in (("jc_pyramid", False), ("jc_resume", True)):
        sc.setJobGroup(group, "pyramid")
        engine.run_pyramid(base_df, cfg, resume=resume)
        sc.setJobGroup("jc_done", "after")
        n_jobs = len(_jobs_in_group(sc, group))
        # measured: 3 = repartitionByRange sampling, the exchange's map
        # stage, the kernel+write stage.  With a Spark append each for
        # lineage and metrics it took 5, and the tier-by-tier chain 14.
        assert n_jobs <= 3, f"{group}: run_pyramid launched {n_jobs} jobs"


def test_bookkeeping_launches_no_spark_job(spark, workdir):
    """On a local catalog the pass commit (record_tier) and the resume
    read (completed_sources) run on the driver: no Spark job."""
    store = CheckpointStore(Catalog(spark, workdir))
    sc = spark.sparkContext
    sc.setJobGroup("bk", "bookkeeping")
    assert store.completed_sources("k") == {}
    store.record_tier("k", _lineage_rows(("a", "b")), _TOTALS, 1.0)
    got = store.completed_sources("k")
    sc.setJobGroup("bk_done", "after")
    assert _jobs_in_group(sc, "bk") == []
    assert got == {1: {"a", "b"}, 2: {"a", "b"}}


_TOTALS = {
    k: {"rows_out": 2, "points_out": 8, "checksum": 3, "min_n_tok": 4}
    for k in (1, 2)
}


def _lineage_rows(sources, tiers=(1, 2)):
    return [{"tier": k, "source": s, "rows_in": 1, "rows_out": 1}
            for k in tiers for s in sources]


def _data_files(catalog, table):
    d = catalog.path(table)
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet")) \
        if os.path.isdir(d) else []


def test_pass_adds_one_file_per_bookkeeping_table(spark, base_df, workdir):
    """Whatever defaultParallelism is, a pass adds one lineage file when
    it completed a partition (none otherwise) and one metrics file."""
    assert spark.sparkContext.defaultParallelism > 1
    cfg = RollupConfig(kernel="mode", window=4, num_tiers=2, run_kind="bf")
    engine = RollupEngine(spark, workdir)
    cat = engine.catalog
    some_source = base_df.select("source").first()["source"]
    assert base_df.select("source").distinct().count() > 1
    passes = (
        (base_df.where(F.col("source") == some_source), 1),
        (base_df, 1),
        (base_df, 0),  # everything complete: no lineage rows
    )
    for df, new_lineage in passes:
        lineage, metrics = _data_files(cat, "lineage"), _data_files(cat, "metrics")
        engine.run_pyramid(df, cfg, resume=True)
        assert len(_data_files(cat, "lineage")) == len(lineage) + new_lineage
        assert len(_data_files(cat, "metrics")) == len(metrics) + 1
    pairs = cat.read("lineage").groupBy("tier", "source").count().collect()
    assert all(r["count"] == 1 for r in pairs), pairs
    assert cat.read("metrics").count() == 3 * 2  # 3 passes x 2 tiers


def test_crash_leftover_tmp_file_is_ignored(spark, workdir):
    """A commit that died before its rename leaves a hidden
    ``.part-*.parquet.tmp``: exists, completed_sources and catalog.read
    must all skip it."""
    cat = Catalog(spark, workdir)
    store = CheckpointStore(cat)
    os.makedirs(cat.path("lineage"))
    with open(os.path.join(cat.path("lineage"),
                           ".part-dead.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 torn write")
    assert not cat.exists("lineage")
    assert store.completed_sources("k") == {}
    store.record_tier("k", _lineage_rows(("a",), tiers=(1,)), _TOTALS, 1.0)
    assert cat.exists("lineage")
    assert store.completed_sources("k") == {1: {"a"}}
    assert [(r["tier"], r["source"]) for r in cat.read("lineage").collect()] \
        == [(1, "a")]


def test_lineage_mixes_spark_and_arrow_files(spark, workdir):
    """A lineage table holding a Spark-written file (INT96 timestamps)
    and a driver-committed pyarrow file reads back as one table with
    ``completed_at: timestamp``, through Spark and completed_sources."""
    import datetime as dt

    from pyspark.sql.types import TimestampType

    cat = Catalog(spark, workdir)
    store = CheckpointStore(cat)
    ts = dt.datetime(2000, 1, 2, 3, 4, 5)
    cat.write(
        spark.createDataFrame(
            [("k", 1, "a", 1, 1, "complete", ts)], LINEAGE_SCHEMA
        ).coalesce(1),
        "lineage",
    )
    store.record_tier("k", _lineage_rows(("b",), tiers=(1,)), _TOTALS, 1.0)
    assert len(_data_files(cat, "lineage")) == 2
    df = cat.read("lineage")
    assert df.schema["completed_at"].dataType == TimestampType()
    got = {r["source"]: r["completed_at"] for r in df.collect()}
    assert got["a"] == ts and got["b"] > ts
    assert store.completed_sources("k") == {1: {"a", "b"}}
    assert cat.read("metrics").schema["completed_at"].dataType \
        == TimestampType()


def test_map_in_arrow_pooling_equals_kernels(spark):
    """pool_tiers (key passthrough) and the bench's
    pool_tiers_map_in_arrow shim (tokens only) must equal the per-row
    numpy kernels on uniform batches (one length group, reshape view),
    ragged batches (one gather per length), and across kernels incl.
    sparse."""
    from tinybrain_spark.udfs import pool_tiers, pool_tiers_map_in_arrow

    uniform = generate(spark, n_docs=400, n_tok=64, seed=9, num_partitions=4)
    ragged = uniform.withColumn(
        "tokens",
        F.slice("tokens", 1, (16 + (F.crc32("doc_id") % 4) * 16).cast("int")),
    )
    for df in (uniform, ragged):
        base = _tokens_by_doc(df)
        for kind, sparse in (("avg", False), ("avg", True), ("mode", False),
                             ("max", False)):
            want = {
                d: [t.tolist() for t in K.pool(kind, toks, window=4,
                                               num_tiers=2, sparse=sparse)]
                for d, toks in base.items()
            }
            pool = pool_tiers(kind, window=4, num_tiers=2, sparse=sparse)
            got = {
                r["doc_id"]: r["tiers"]
                for r in pool(df.select("doc_id", "tokens")).collect()
            }
            assert got == want, (kind, sparse)
            shim = pool_tiers_map_in_arrow(kind, window=4, num_tiers=2,
                                           sparse=sparse)
            out = shim(df)
            assert out.columns == ["tiers"]
            assert sorted(r["tiers"] for r in out.collect()) == sorted(
                want.values()
            ), (kind, sparse)


@pytest.mark.parametrize("kernel,sparse", [
    ("avg", False), ("avg", True), ("mode", False),
])
def test_pyramid_ragged_inputs_through_engine(spark, workdir, kernel, sparse):
    """Ragged n_tok (mixed lengths in one batch) drives the Arrow tier
    mappers' per-length-group gather end to end; every tier must still
    equal the per-row numpy kernels."""
    df = generate(spark, n_docs=96, n_tok=256, seed=13, num_partitions=3)
    df = df.withColumn(
        "tokens",
        F.slice("tokens", 1, (64 * (1 + F.crc32("doc_id") % 4)).cast("int")),
    ).withColumn("n_tok", F.size("tokens"))
    cfg = RollupConfig(kernel=kernel, window=4, num_tiers=3, sparse=sparse,
                       run_kind=f"rag_{kernel}_{int(sparse)}")
    engine = RollupEngine(spark, workdir)
    engine.run_pyramid(df, cfg, resume=False)
    base = _tokens_by_doc(df)
    assert len({len(t) for t in base.values()}) == 4  # genuinely ragged
    _assert_tier_matches(engine, cfg, base, 3)
