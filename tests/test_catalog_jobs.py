"""The spark-submit job CLIs (retention job runs in-process through its
main() to avoid a second JVM)."""

import json
import os

from pyspark.sql import functions as F

from tinybrain_spark.catalog import Catalog
from tinybrain_spark.datagen import generate


def test_rollup_then_retention_job_cli(spark, workdir, capsys):
    """Drive the retention CLI main() against a real pyramid."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    import retention_job

    from tinybrain_spark.rollup import RollupConfig, RollupEngine

    df = generate(spark, n_docs=64, n_tok=64, seed=13, num_partitions=2)
    engine = RollupEngine(spark, workdir)
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=2, run_kind="cli")
    engine.run_pyramid(df, cfg, resume=False)

    # monkeypatch get_spark so the CLI reuses the test session
    import tinybrain_spark.session as sess

    orig = sess.get_spark
    stopped = []
    spark.stop = lambda: stopped.append(True)  # CLI calls stop(); keep alive
    try:
        sess.get_spark = lambda *a, **k: spark
        rc = retention_job.main([
            "--warehouse", workdir,
            "--run-kind", "cli",
            "--tiers", "2",
            "--keep", "1:5",
        ])
    finally:
        sess.get_spark = orig
        del spark.stop
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "1" in out["per_tier"]
    t1 = engine.catalog.read(cfg.name(1))
    newest = t1.agg(F.max("time_bucket")).first()[0]
    assert t1.where(F.col("time_bucket") < newest - 4).count() == 0


def test_pipeline_job_end_to_end(spark, workdir, capsys):
    """The full engine story in one entry point: pyramid -> continuous
    aggregate -> gap-fill -> Gorilla blobs (decode-verified) ->
    retention, with real drops under a tight policy."""
    import json
    import sys

    import tinybrain_spark.session as sess
    from jobs.pipeline_job import main as pipeline_main

    argv = sys.argv
    sys.argv = [
        "pipeline_job.py", "--output", workdir, "--gen-docs", "512",
        "--gen-ntok", "64", "--tiers", "2", "--keep-buckets", "16",
    ]
    orig = sess.get_spark
    spark.stop = lambda: None  # CLI calls stop(); keep the fixture alive
    try:
        sess.get_spark = lambda *a, **k: spark
        assert pipeline_main() == 0
    finally:
        sess.get_spark = orig
        del spark.stop
        sys.argv = argv
    out = capsys.readouterr().out.strip().splitlines()[-1]
    stats = json.loads(out)
    assert stats["pyramid"]["1"]["rows_out"] == 512
    assert stats["filled_rows"] >= stats["cagg_rows"]
    assert stats["blob_bytes"] < stats["raw_bytes"]  # compression won
    assert stats["retention"]["rows_dropped"] > 0  # tight policy bites


def test_corrections_job_cli(spark, workdir, capsys):
    """Drive the CDC corrections CLI main(): corrupted inserts then
    fixes+deletes drain through the stream; the stored cagg must equal a
    full recompute over the corrected raw."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs"))
    import corrections_job

    from tinybrain_spark.aggregates import aggregate_batch

    base = generate(spark, n_docs=80, n_tok=32, seed=21, num_partitions=2)
    kill = F.crc32(F.col("doc_id")) % 4 == 0
    cols = ["doc_id", "tokens", "n_tok", "source", "time_bucket", "op"]
    corrupted = base.withColumn(
        "tokens", F.transform("tokens", lambda t: t + 3)
    ).withColumn("op", F.lit("upsert")).select(cols)
    fixes = base.where(~kill).withColumn("op", F.lit("upsert")).select(cols)
    deletes = (
        base.where(kill)
        .withColumn("tokens", F.lit(None).cast("array<int>"))
        .withColumn("n_tok", F.lit(None).cast("int"))
        .withColumn("time_bucket", F.lit(None).cast("long"))
        .withColumn("op", F.lit("delete"))
        .select(cols)
    )
    ops_dir = os.path.join(workdir, "ops")
    corrupted.repartition(2).write.parquet(ops_dir)
    fixes.unionByName(deletes).repartition(2).write.parquet(
        ops_dir, mode="append"
    )

    import tinybrain_spark.session as sess

    orig = sess.get_spark
    spark.stop = lambda: None
    try:
        sess.get_spark = lambda *a, **k: spark
        rc = corrections_job.main([
            "--ops-input", ops_dir,
            "--warehouse", os.path.join(workdir, "wh"),
            "--max-files-per-trigger", "1",
            "--timeout-sec", "600",
        ])
    finally:
        sess.get_spark = orig
        del spark.stop
    assert rc == 0
    line = [l for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")][-1]
    stats = json.loads(line)

    cat = Catalog(spark, os.path.join(workdir, "wh"))
    want = {
        (r["source"], r["time_bucket"]): (r["n_docs"], r["token_sum"])
        for r in aggregate_batch(base.where(~kill)).collect()
    }
    got = {
        (r["source"], r["time_bucket"]): (r["n_docs"], r["token_sum"])
        for r in cat.read("cagg").collect()
    }
    assert got == want
    assert stats["raw_rows"] == base.where(~kill).count()
    assert stats["cagg_rows"] == len(want)


def test_analytics_job_cli(spark, workdir, capsys):
    """Drive the analytics CLI main(): two registry queries land as
    parquet marts and the JSON stats line reports their row counts."""
    import json

    from jobs import analytics_job

    out = f"{workdir}/marts"
    rc = analytics_job.main([
        "--sf-dir", "/root/testdata/sf0.001",
        "--output", out,
        "--query", "q_top_tokens",
        "--query", "q_funnel_steps",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["queries"]["q_top_tokens"]["rows"] == 20
    assert stats["queries"]["q_funnel_steps"]["rows"] == 3
    assert spark.read.parquet(f"{out}/q_funnel_steps").count() == 3
    # unknown names fail fast
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        analytics_job.main(
            ["--sf-dir", "x", "--output", out, "--query", "nope"]
        )
