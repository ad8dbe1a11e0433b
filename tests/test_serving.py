"""Serving layer: resolution routing reads the coarsest usable tier and
the residual in-flight extension is byte-identical to a deeper
materialized pyramid (the reference's serve-the-right-mip contract,
downsample.py multi-mip semantics, recast)."""

import numpy as np
import pytest

from tinybrain_spark import kernels as K
from tinybrain_spark.datagen import generate
from tinybrain_spark.rollup import RollupConfig, RollupEngine
from tinybrain_spark.serving import ServingPlan, plan_read, read_series

N_DOCS = 48
N_TOK = 256  # 4^4 divides it: resolutions 1..256 all valid for w=4


@pytest.fixture(scope="module")
def base_df(spark):
    df = generate(spark, n_docs=N_DOCS, n_tok=N_TOK, seed=7,
                  num_partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def served(spark, base_df, tmp_path_factory):
    """One 2-tier pyramid per kernel flavor under test."""
    work = str(tmp_path_factory.mktemp("serving"))
    engine = RollupEngine(spark, work)
    cfgs = {
        ("avg", False): RollupConfig(kernel="avg", window=4, num_tiers=2,
                                     run_kind="srv_avg"),
        ("avg", True): RollupConfig(kernel="avg", window=4, num_tiers=2,
                                    sparse=True, run_kind="srv_avg_sp"),
        ("mode", False): RollupConfig(kernel="mode", window=4, num_tiers=2,
                                      run_kind="srv_mode"),
    }
    for cfg in cfgs.values():
        engine.run_pyramid(base_df, cfg)
    return engine, cfgs


def _tokens_by_doc(df):
    return {r["doc_id"]: np.array(r["tokens"], dtype=np.int32)
            for r in df.select("doc_id", "tokens").collect()}


def test_plan_read_routing():
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=2)
    assert plan_read(cfg, 1) == ServingPlan(0, 0)
    assert plan_read(cfg, 4) == ServingPlan(1, 0)
    assert plan_read(cfg, 16) == ServingPlan(2, 0)
    # beyond the materialized pyramid: deepest tier + in-flight steps
    assert plan_read(cfg, 64) == ServingPlan(2, 1)
    assert plan_read(cfg, 256) == ServingPlan(2, 2)
    with pytest.raises(ValueError):
        plan_read(cfg, 8)  # not a power of the window
    with pytest.raises(ValueError):
        plan_read(cfg, 0)


@pytest.mark.parametrize("kernel,sparse,resolution,depth", [
    ("avg", False, 16, 2),   # exact tier hit
    ("avg", False, 64, 3),   # tier 2 + one residual step
    ("avg", False, 256, 4),  # tier 2 + two residual steps
    ("avg", True, 64, 3),    # sparse accumulator survives the extension
    ("mode", False, 64, 3),  # mode-of-modes extension
])
def test_served_equals_deeper_pyramid(spark, base_df, served,
                                      kernel, sparse, resolution, depth):
    engine, cfgs = served
    cfg = cfgs[(kernel, sparse)]
    got = _tokens_by_doc(
        read_series(engine, cfg, base_df, resolution)
    )
    base = {r["doc_id"]: np.array(r["tokens"], dtype=np.int32)
            for r in base_df.select("doc_id", "tokens").collect()}
    assert set(got) == set(base)
    for doc_id, toks in base.items():
        want = K.pool(kernel, toks, window=4, num_tiers=depth,
                      sparse=sparse)[depth - 1]
        assert np.array_equal(got[doc_id], want), f"doc {doc_id}"


def test_resolution_one_serves_raw(spark, base_df, served):
    engine, cfgs = served
    got = _tokens_by_doc(
        read_series(engine, cfgs[("avg", False)], base_df, 1)
    )
    want = _tokens_by_doc(base_df)
    assert set(got) == set(want)
    for d in want:
        assert np.array_equal(got[d], want[d])


def test_predicates_prune_the_tier_scan(spark, base_df, served):
    """source is the tier table's partition key: a sources= filter must
    land in PartitionFilters (directory pruning), and the time filter
    must be pushed to the scan — both BEFORE any Python stage."""
    engine, cfgs = served
    one_src = base_df.select("source").first()["source"]
    df = read_series(engine, cfgs[("avg", False)], base_df, 64,
                     sources=[one_src], bucket_range=(0, 5))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    part = plan.split("PartitionFilters")[1].split("\n")[0]
    assert one_src in part
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "time_bucket" in pushed


def test_served_rows_match_predicates(spark, base_df, served):
    engine, cfgs = served
    one_src = base_df.select("source").first()["source"]
    rows = read_series(engine, cfgs[("avg", False)], base_df, 16,
                       sources=[one_src]).collect()
    assert rows
    assert {r["source"] for r in rows} == {one_src}


def test_expired_tier_falls_back_to_finer_tier(spark, base_df, tmp_path):
    """VERDICT r04 task: retention expires tier 2; a resolution-16
    query must be served from tier 1 + one residual step, byte-identical
    to the pyramid materialized at that depth — and with EVERY tier
    expired, from raw; the routing error remains only when raw is gone
    too."""
    engine = RollupEngine(spark, str(tmp_path / "wh"))
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=2,
                       run_kind="srv_fallback")
    engine.run_pyramid(base_df, cfg)
    base = _tokens_by_doc(base_df)
    want = {d: K.pool("avg", t, window=4, num_tiers=2)[1]
            for d, t in base.items()}

    engine.catalog.drop(cfg.name(2))
    got = _tokens_by_doc(read_series(engine, cfg, base_df, 16))
    assert set(got) == set(want)
    for d in want:
        assert np.array_equal(got[d], want[d]), f"doc {d} via tier 1"

    engine.catalog.drop(cfg.name(1))
    got_raw = _tokens_by_doc(read_series(engine, cfg, base_df, 16))
    for d in want:
        assert np.array_equal(got_raw[d], want[d]), f"doc {d} via raw"

    with pytest.raises(FileNotFoundError, match="no tier <= 2"):
        read_series(engine, cfg, None, 16)


def test_expired_tier_fallback_sparse_mode_kernels(spark, base_df, tmp_path):
    """The fallback residual must reuse the exact kernel semantics for
    the sparse-avg accumulator and the mode-of-modes chain too."""
    for kernel, sparse in (("avg", True), ("mode", False)):
        engine = RollupEngine(spark, str(tmp_path / f"wh_{kernel}_{sparse}"))
        cfg = RollupConfig(kernel=kernel, window=4, num_tiers=2,
                           sparse=sparse, run_kind="srv_fb2")
        engine.run_pyramid(base_df, cfg)
        engine.catalog.drop(cfg.name(2))
        got = _tokens_by_doc(read_series(engine, cfg, base_df, 16))
        base = _tokens_by_doc(base_df)
        for d, t in base.items():
            want = K.pool(kernel, t, window=4, num_tiers=2, sparse=sparse)[1]
            assert np.array_equal(got[d], want), (kernel, sparse, d)


def test_serve_job_cli(spark, base_df, served, tmp_path, capsys):
    """Drive jobs/serve_job.py main() against the materialized pyramid:
    plan fields and served counts come back in the JSON line."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    import serve_job

    import tinybrain_spark.session as sess

    engine, cfgs = served
    raw_dir = str(tmp_path / "raw")
    base_df.write.parquet(raw_dir)

    orig = sess.get_spark
    spark.stop = lambda: None  # CLI calls stop(); keep the fixture alive
    try:
        sess.get_spark = lambda *a, **k: spark
        rc = serve_job.main([
            "--warehouse", engine.catalog.base_path
            if hasattr(engine.catalog, "base_path") else engine.base_path,
            "--run-kind", "srv_avg",
            "--kernel", "avg", "--window", "4", "--tiers", "2",
            "--resolution", "64",
            "--input", raw_dir,
        ])
    finally:
        sess.get_spark = orig
        del spark.stop
    assert rc == 0
    line = [l for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")][-1]
    stats = json.loads(line)
    assert stats["tier_scanned"] == 2
    assert stats["residual_steps"] == 1
    assert stats["rows"] == N_DOCS
    assert stats["points"] == N_DOCS * N_TOK // 64


def test_serving_missing_tier_raises_routing_error(spark, tmp_path):
    import pytest

    from tinybrain_spark.rollup import RollupConfig, RollupEngine
    from tinybrain_spark.serving import read_series

    engine = RollupEngine(spark, str(tmp_path / "empty_wh"))
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=2,
                       run_kind="nothing_here")
    with pytest.raises(FileNotFoundError, match="tier 2 .*resolution 16"):
        read_series(engine, cfg, None, 16)
