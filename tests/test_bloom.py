"""Bloom filter operators (tinybrain_spark.bloom).

Pins the one-sided guarantee (no false negatives, bounded false
positives), bit-level agreement with a pure-python replica, cell-wise
mergeability, and the zero-shuffle probe plan (k broadcast joins, no
exchange added on the probed side).
"""

import hashlib

from pyspark.sql import functions as F

from tinybrain_spark import bloom as B
from tinybrain_spark.driver_contract.dedup import (
    q_bloom_decontaminate,
    q_decontaminate,
)
from tinybrain_spark.driver_contract.sequences import _doc_shingles
from tinybrain_spark.session import load_table

from conftest import SF_DIR

M_WORDS = 8  # tiny filter so collisions actually occur in tests
K = 4


def _py_bloom(values, m_words=M_WORDS, k=K):
    """Pure-python replica of build_bloom."""
    m_bits = m_words * 32
    words = {}
    for v in values:
        hx = hashlib.md5(v.encode()).hexdigest()
        for i in range(k):
            h = int(hx[8 * i : 8 * i + 8], 16) % m_bits
            words[h // 32] = words.get(h // 32, 0) | (1 << (h % 32))
    return words


def _strings_df(spark, values):
    return spark.createDataFrame([(v,) for v in values], "s string")


def test_build_bloom_matches_python_replica(spark):
    vals = [f"tok-{i}" for i in range(50)]
    got = {
        r["bucket"]: r["bits"]
        for r in B.build_bloom(
            _strings_df(spark, vals), "s", m_words=M_WORDS, k=K
        ).collect()
    }
    assert got == _py_bloom(vals)


def test_probe_has_no_false_negatives(spark):
    vals = [f"member-{i}" for i in range(200)]
    df = _strings_df(spark, vals)
    bloom = B.build_bloom(df, "s", m_words=M_WORDS, k=K)
    probed = B.probe_bloom(df, "s", bloom, m_words=M_WORDS, k=K)
    assert probed.where(F.col("bloom_hit") == 0).count() == 0


def test_probe_false_positives_are_bounded_and_present(spark):
    """A saturated 256-bit filter must flag some non-members (the test
    is vacuous otherwise) but never all of them at a sane fill."""
    members = [f"member-{i}" for i in range(100)]
    others = [f"other-{i}" for i in range(500)]
    bloom = B.build_bloom(
        _strings_df(spark, members), "s", m_words=M_WORDS, k=K
    )
    hits = (
        B.probe_bloom(
            _strings_df(spark, others), "s", bloom, m_words=M_WORDS, k=K
        )
        .agg(F.sum("bloom_hit"))
        .collect()[0][0]
    )
    assert 0 < hits < 500


def test_bloom_merges_cell_wise(spark):
    """bit_or of two independently built filters == the filter of the
    union — the property that lets blocklists accrete across days."""
    a = [f"a-{i}" for i in range(60)]
    b = [f"b-{i}" for i in range(60)]
    ba = B.build_bloom(_strings_df(spark, a), "s", m_words=M_WORDS, k=K)
    bb = B.build_bloom(_strings_df(spark, b), "s", m_words=M_WORDS, k=K)
    merged = {
        r["bucket"]: r["bits"]
        for r in ba.unionAll(bb)
        .groupBy("bucket")
        .agg(F.bit_or("bits").alias("bits"))
        .collect()
    }
    assert merged == _py_bloom(a + b)


def test_bloom_decontaminate_agrees_with_exact(spark):
    """Differential vs q_decontaminate: every exactly-contaminated doc
    appears with the same n_shared, and n_shared <= n_flagged on every
    bloom row (one-sided error, never a miss)."""
    exact = {
        r["doc_id"]: r["n_shared"]
        for r in q_decontaminate(spark, SF_DIR).collect()
    }
    rows = q_bloom_decontaminate(spark, SF_DIR).collect()
    got = {r["doc_id"]: (r["n_flagged"], r["n_shared"]) for r in rows}
    for doc, n_shared in exact.items():
        assert doc in got, f"bloom missed contaminated doc {doc}"
        assert got[doc][1] == n_shared
    for doc, (n_flagged, n_shared) in got.items():
        assert n_shared <= n_flagged
        assert n_shared == exact.get(doc, 0)


def test_probe_plan_is_broadcast_only(spark):
    """The probed side must not gain a shuffle, and the bloom subtree
    must be evaluated once: exactly one broadcast join (the packed
    single-row map), zero SortMergeJoins, and only the bench-side
    exchanges (shingle distinct + bloom groupBy + single-row pack)."""
    docs = load_table(spark, SF_DIR, "documents")
    sh = _doc_shingles(docs)
    bench = sh.where(F.col("doc_id") % 20 == 0).select("sh").distinct()
    bloom = B.build_bloom(bench, "sh", m_words=64, k=K)
    probed = B.probe_bloom(
        sh.where(F.col("doc_id") % 20 != 0), "sh", bloom, m_words=64, k=K
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row build side
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    # exchanges: bench shingle distinct + bloom-word groupBy, then the
    # SinglePartition pack.  The probed branch contributes none — a
    # probe-side shuffle breaks the ceiling.
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Exchange SinglePartition") <= 1
