"""session.load_table: the scan fan-out (r06), a conditional hash
repartition that spreads single-row-group scans across cores, and the
footer schema that spares each read Spark's schema-inference job.

The decision must be layout-driven (parquet row groups are the atomic
scan unit) and scale-adaptive: wide layouts and small inputs keep
their plans byte-identical to the pre-r06 shape.
"""

import logging
import os
import uuid
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR

from tinybrain_spark.session import _default_cpus, _read_footers, load_table

TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")


def _write(path, n_rows, row_group_size=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = pa.table({"doc_id": pa.array(range(n_rows), type=pa.int64()),
                  "text": pa.array(["w " * 5] * n_rows)})
    pq.write_table(t, path, row_group_size=row_group_size or n_rows)


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_layout_reads_footers(tmp_path):
    p = str(tmp_path / "sf" / "documents.parquet")
    _write(p, 64, row_group_size=8)
    splits, rows = _read_footers(p).layout
    assert splits == 8 and rows == 64


def test_fanout_fires_on_narrow_layout(spark, tmp_path):
    sf = str(tmp_path / "sf")
    _write(os.path.join(sf, "documents.parquet"), 100)  # 1 row group
    df = load_table(spark, sf, "documents", fanout_on=["doc_id"],
                    fanout_min_rows=10)
    plan = _plan(df)
    assert "hashpartitioning(doc_id" in plan, plan


def test_fanout_respects_row_floor(spark, tmp_path):
    sf = str(tmp_path / "sf")
    _write(os.path.join(sf, "documents.parquet"), 100)
    df = load_table(spark, sf, "documents", fanout_on=["doc_id"],
                    fanout_min_rows=1000)
    assert "hashpartitioning" not in _plan(df)


def test_fanout_skips_wide_layouts(spark, tmp_path):
    # splits >= cores: a production-shaped table never pays the
    # exchange, whatever the row count
    sf = str(tmp_path / "sf")
    cores = spark.sparkContext.defaultParallelism
    _write(os.path.join(sf, "documents.parquet"), 64 * cores, row_group_size=8)
    df = load_table(spark, sf, "documents", fanout_on=["doc_id"],
                    fanout_min_rows=1)
    assert "hashpartitioning" not in _plan(df)


def test_fanout_empty_list_suppresses_default(spark, tmp_path):
    sf = str(tmp_path / "sf")
    # enough rows that the documents default (16384) would fire
    _write(os.path.join(sf, "documents.parquet"), 20000)
    fan = load_table(spark, sf, "documents")
    off = load_table(spark, sf, "documents", fanout_on=[])
    assert "hashpartitioning(doc_id" in _plan(fan)
    assert "hashpartitioning" not in _plan(off)


def test_fanout_rows_match_plain_read(spark, tmp_path):
    sf = str(tmp_path / "sf")
    _write(os.path.join(sf, "documents.parquet"), 500)
    fan = load_table(spark, sf, "documents", fanout_on=["doc_id"],
                     fanout_min_rows=10)
    assert sorted(r.doc_id for r in fan.collect()) == list(range(500))


def test_layout_probe_is_memoized_per_listing(spark, tmp_path, monkeypatch):
    sf = str(tmp_path / "sf")
    path = os.path.join(sf, "documents.parquet")
    _write(path, 100)
    opened = []
    real = pq.ParquetFile

    def counting(f, *a, **kw):
        opened.append(f)
        return real(f, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)

    def load():
        return load_table(spark, sf, "documents", fanout_on=["doc_id"],
                          fanout_min_rows=10)

    load()
    assert len(opened) == 1
    load()
    assert len(opened) == 1  # same listing: no footer opened again
    _write(path, 50)  # rewritten table (new size): probed again
    load()
    assert len(opened) == 2


def test_layout_probe_without_footer_warns_once(tmp_path, caplog):
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not parquet")
    paths = ["s3a://bucket/sf/documents.parquet",  # remote: nothing local
             str(tmp_path / "empty"),  # empty glob
             str(bad)]  # unreadable footer
    with caplog.at_level(logging.WARNING, logger="tinybrain_spark.session"):
        for _ in range(2):
            for p in paths:
                assert _read_footers(p).layout == (1 << 30, 0)
    warned = [r.getMessage() for r in caplog.records
              if "no parquet footer" in r.getMessage()]
    assert len(warned) == len(paths), warned
    for p in paths:
        assert sum(p in m for m in warned) == 1, (p, warned)


@pytest.mark.parametrize("cores", [4, 32])
def test_default_cpus_follows_affinity(monkeypatch, cores):
    """With SPARK_GRAFT_CPUS unset, local[n] uses the cores this
    process may run on, not a count tuned on another host."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cores)))
    assert _default_cpus() == cores


def test_default_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    assert _default_cpus() == 6


def _inferred(spark, sf, name):
    return spark.read.parquet(os.path.join(sf, f"{name}.parquet")).schema


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inference_on_testdata(spark, sf):
    """load_table's schema, taken from the footers, is exactly the one
    Spark's inference job would find, for every driver table."""
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no {sf} test data")
    for name in TABLES:
        got = load_table(spark, sf_dir, name, fanout_on=[]).schema
        assert got == _inferred(spark, sf_dir, name), name


def test_footer_schema_matches_inference_on_written_tables(spark, tmp_path):
    """A pyarrow table shaped like perfbench's (a naive timestamp, a
    float list) and a multi-file Spark-written directory whose footers
    carry Spark's own schema (timestamps with and without zone, a
    decimal, a map, a struct)."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    n = 50
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.arange(n) * 10**6, pa.timestamp("us")),
        "event_type": pa.array(["click"] * n),
        "value": pa.array(np.linspace(0.0, 1.0, n)),
        "embedding": pa.array([[0.5, 1.5]] * n, pa.list_(pa.float32())),
        "label": pa.array(np.arange(n) % 3, pa.int32()),
    }), os.path.join(sf, "events.parquet"))
    (spark.range(n, numPartitions=3).selectExpr(
        "id AS doc_id",
        "timestamp_seconds(id) AS ts",
        "CAST(timestamp_seconds(id) AS TIMESTAMP_NTZ) AS ts_ntz",
        "CAST(id AS DECIMAL(12, 2)) AS amount",
        "map('k', id) AS props",
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS pair",
        "array(CAST(id AS SHORT)) AS shorts",
    ).write.parquet(os.path.join(sf, "documents.parquet")))
    for name in ("events", "documents"):
        got = load_table(spark, sf, name, fanout_on=[]).schema
        assert got == _inferred(spark, sf, name), name
    rows = load_table(spark, sf, "documents", fanout_on=[]).collect()
    assert sorted(r.doc_id for r in rows) == list(range(n))


def _jobs_in_group(spark, read):
    sc = spark.sparkContext
    group = f"load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table")
    try:
        read()
    finally:
        sc._jsc.clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_launches_no_job(spark, tmp_path):
    """The footer schema spares the read Spark's schema-inference
    job, which the plain read still launches."""
    sf = str(tmp_path / "sf")
    _write(os.path.join(sf, "documents.parquet"), 100)
    path = os.path.join(sf, "documents.parquet")
    assert _jobs_in_group(spark, partial(spark.read.parquet, path))
    load = partial(load_table, spark, sf, "documents")
    assert _jobs_in_group(spark, load) == []
