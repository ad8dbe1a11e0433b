"""session.load_table scan fan-out (r06): the conditional hash
repartition that spreads single-row-group scans across cores.

The decision must be layout-driven (parquet row groups are the atomic
scan unit) and scale-adaptive: wide layouts and small inputs keep
their plans byte-identical to the pre-r06 shape.
"""

import logging
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tinybrain_spark.session import _default_cpus, _parquet_layout, load_table


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
    splits, rows = _parquet_layout(p)
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
                assert _parquet_layout(p) == (1 << 30, 0)
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
