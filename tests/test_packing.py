"""Sequence packing: two-level prefix sum == naive window; plan shape.

The packing op (packing.py) must produce byte-identical assignments to
the single-window formulation while never sorting more than bucket_size
rows in one task — bucket-size invariance IS the correctness proof of
the two-level decomposition.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tinybrain_spark.packing import pack_offsets, pack_tokens


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, n_tok long")


def _naive(docs, capacity):
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    out = docs.withColumn("tok_start", start)
    seq_id = F.expr(f"tok_start DIV {capacity}")
    return (
        out.withColumn("seq_id", seq_id.cast("long"))
        .withColumn("seq_offset", (F.col("tok_start") % capacity).cast("long"))
        .withColumn(
            "n_spans",
            F.when(F.col("n_tok") <= 0, F.lit(0))
            .otherwise(
                F.expr(f"(tok_start + n_tok - 1) DIV {capacity}") - seq_id + 1
            )
            .cast("long"),
        )
    )


ROWS = [
    # source a: doc sizes crossing several 100-token sequences
    (0, "a", 30), (1, "a", 90), (2, "a", 250), (5, "a", 0),
    (7, "a", 100), (9, "a", 1), (12, "a", 60),
    # source b: interleaved doc_ids, one giant doc spanning many seqs
    (3, "b", 10), (4, "b", 999), (6, "b", 100), (8, "b", 5),
]


@pytest.mark.parametrize("bucket_size", [1, 2, 3, 4096])
def test_matches_naive_window_any_bucket_size(spark, bucket_size):
    docs = _docs(spark, ROWS)
    got = pack_offsets(
        docs, capacity=100, bucket_size=bucket_size
    ).orderBy("source", "doc_id")
    want = _naive(docs, capacity=100).orderBy("source", "doc_id")
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


def test_assignment_invariants(spark):
    docs = _docs(spark, ROWS)
    rows = pack_offsets(docs, capacity=100, bucket_size=2).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        # offsets are the exclusive prefix sum, contiguous (no gaps)
        acc = 0
        for r in rs:
            assert r.tok_start == acc
            acc += r.n_tok
            assert r.seq_id == r.tok_start // 100
            assert r.seq_offset == r.tok_start % 100
            if r.n_tok == 0:
                assert r.n_spans == 0
            else:
                last = r.tok_start + r.n_tok - 1
                assert r.n_spans == last // 100 - r.tok_start // 100 + 1
    # the giant doc in b (999 tokens starting at 10) spans 11 sequences
    giant = [r for r in rows if r.doc_id == 4][0]
    assert giant.n_spans == 11


def test_pack_tokens_relabels_every_token_once(spark):
    seqs = spark.createDataFrame(
        [
            (1, list(range(7))),
            (2, list(range(100, 105))),
            (5, []),
            (9, list(range(200, 210))),
        ],
        "user_id long, tokens array<int>",
    )
    out = pack_tokens(
        seqs, capacity=8, bucket_size=2
    ).orderBy("seq_id", "pos").collect()
    # 22 tokens total -> seqs 0,1 full (8 each) + seq 2 holds 6
    assert len(out) == 22
    stream = list(range(7)) + list(range(100, 105)) + list(range(200, 210))
    for i, r in enumerate(out):
        assert (r.seq_id, r.pos, r.token) == (i // 8, i % 8, stream[i])


@pytest.mark.parametrize("bucket_size", [1, 2, 5, 4096])
def test_single_stream_matches_naive(spark, bucket_size):
    """source_col=None (the pack_tokens path): one global stream,
    offsets from the driver-side cumsum of range-partition totals."""
    docs = _docs(spark, ROWS).drop("source")
    got = pack_offsets(
        docs, capacity=100, bucket_size=bucket_size, source_col=None
    ).orderBy("doc_id")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    want = docs.withColumn(
        "tok_start", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    ).orderBy("doc_id")
    assert [r.tok_start for r in got.collect()] == [
        r.tok_start for r in want.collect()
    ]


def test_no_unbounded_source_sort_in_plan(spark):
    """The only window over the full doc table partitions by
    (source, _bucket); the unbounded per-source window runs over the
    per-bucket aggregate.  Pin: the full-table window's partition spec
    mentions _bucket (bounded tasks at any per-source row count)."""
    docs = _docs(spark, ROWS)
    plan = pack_offsets(
        docs, capacity=100, bucket_size=2
    )._jdf.queryExecution().optimizedPlan().toString()
    import re

    windows = re.findall(r"Window \[.*?\]", plan)
    # every window ordering by doc_id (the one over the full doc table)
    # must also partition by _bucket
    doc_windows = [w for w in windows if "doc_id" in w]
    assert doc_windows, plan
    for w in doc_windows:
        assert "_bucket" in w, w


def test_zero_unpartitioned_windows(spark):
    """VERDICT r03 #3: no plan in the packing family may contain an
    unpartitioned WindowExec — including pack_tokens, whose constant
    literal source key used to be folded out of the partition spec."""
    from .test_plans import assert_no_unpartitioned_windows

    docs = _docs(spark, ROWS)
    assert_no_unpartitioned_windows(
        pack_offsets(docs, capacity=100, bucket_size=2)
    )
    assert_no_unpartitioned_windows(
        pack_offsets(
            docs.drop("source"), capacity=100, bucket_size=2, source_col=None
        )
    )
    seqs = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [4, 5])], "user_id long, tokens array<int>"
    )
    assert_no_unpartitioned_windows(
        pack_tokens(seqs, capacity=2, bucket_size=2)
    )


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYP = True
except ImportError:  # pragma: no cover
    _HAS_HYP = False


if _HAS_HYP:

    @st.composite
    def _doc_tables(draw):
        n = draw(st.integers(1, 24))
        rows, seen = [], set()
        for _ in range(n):
            did = draw(st.integers(0, 400))
            src = draw(st.sampled_from(["a", "b", "c"]))
            if (did, src) in seen:
                continue
            seen.add((did, src))
            rows.append((did, src, draw(st.integers(0, 700))))
        return rows

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(rows=_doc_tables(), capacity=st.integers(1, 97),
           bucket_size=st.sampled_from([1, 3, 17, 4096]))
    def test_pack_offsets_hypothesis(spark, rows, capacity, bucket_size):
        """Random doc tables (dup-free per source, zero-size and
        giant docs included): two-level == naive single window."""
        docs = _docs(spark, rows)
        got = pack_offsets(
            docs, capacity=capacity, bucket_size=bucket_size
        ).orderBy("source", "doc_id").collect()
        want = _naive(docs, capacity=capacity).orderBy(
            "source", "doc_id"
        ).collect()
        assert [r.asDict() for r in got] == [r.asDict() for r in want]
