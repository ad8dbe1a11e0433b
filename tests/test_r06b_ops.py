"""r06b operators: integer-exact BM25 ranked retrieval and the
tier-width recommendation planner."""

import re
from collections import Counter

import pandas as pd

from tinybrain_spark.driver_contract.sequences import DAY_US
from tinybrain_spark.driver_contract.text import (
    BM25_TERMS,
    BM25_TOPK,
    q_bm25_topk,
)
from tinybrain_spark.driver_contract.tiers import (
    TIER_LADDER_S,
    q_native_resolution,
    q_tier_plan,
)

from .test_plans import SF_DIR, _plan, assert_no_unpartitioned_windows


# ---------------------------------------------------------------------------
# q_bm25_topk
# ---------------------------------------------------------------------------


def _literal_bm25() -> pd.DataFrame:
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    ws = {
        int(d): re.split(" +", t.strip())
        for d, t in zip(docs["doc_id"], docs["text"])
    }
    n_docs = len(ws)
    l_tot = sum(len(w) for w in ws.values())
    df = Counter()
    for w in ws.values():
        for t in set(w) & set(BM25_TERMS):
            df[t] += 1
    rows = []
    for did, w in ws.items():
        tf = Counter(t for t in w if t in BM25_TERMS)
        if not tf:
            continue
        dl = len(w)
        score = 0
        for t, f in tf.items():
            idf = (n_docs // df[t]).bit_length()
            score += (idf * 22000 * l_tot * f) // (
                10 * l_tot * f + 3 * l_tot + 9 * dl * n_docs
            )
        rows.append((did, len(tf), score))
    rows.sort(key=lambda r: (-r[2], r[0]))
    return pd.DataFrame(
        rows[:BM25_TOPK], columns=["doc_id", "n_terms", "score"]
    )


def test_bm25_differential_vs_literal(spark):
    want = _literal_bm25()
    got = q_bm25_topk(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_bm25_invariants(spark):
    out = q_bm25_topk(spark, SF_DIR).toPandas()
    assert len(out) == BM25_TOPK
    assert out["n_terms"].between(1, len(BM25_TERMS)).all()
    assert out["score"].gt(0).all()
    # rare terms must out-score common ones: the top doc hits the
    # highest-idf term ("dup" is ~16x rarer than the others here)
    assert (out["score"].diff().dropna() <= 0).all()


def test_bm25_plan_topk_never_global_sort(spark):
    plan = _plan(q_bm25_topk(spark, SF_DIR))
    # top-k is per-partition partial + merge, never Sort + GlobalLimit
    assert "TakeOrderedAndProject" in plan
    # the |terms|-row df table and the 1-row (N, L) table broadcast
    assert plan.count("BroadcastExchange") >= 2
    assert_no_unpartitioned_windows(q_bm25_topk(spark, SF_DIR))


# ---------------------------------------------------------------------------
# q_tier_plan
# ---------------------------------------------------------------------------


def _literal_tier_plan(spark) -> pd.DataFrame:
    dom = (
        q_native_resolution(spark, SF_DIR)
        .toPandas()
        .set_index("source")["dominant_delta_s"]
    )
    ev = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["ts", "event_type"]
    )
    day = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000 // DAY_US
    g = pd.DataFrame({"source": ev["event_type"], "day": day}).groupby(
        "source"
    )
    rows = []
    for src, grp in g:
        raw_ppd = max(
            1, len(grp) // (int(grp["day"].max()) - int(grp["day"].min()) + 1)
        )
        d = int(dom[src])
        width = next((w for w in TIER_LADDER_S if d <= w), TIER_LADDER_S[-1])
        dense = 86400 // width
        est = min(dense, raw_ppd)
        rows.append(
            (src, d, width, dense, raw_ppd, est,
             (raw_ppd - est) * 1000 // raw_ppd)
        )
    return (
        pd.DataFrame(
            rows,
            columns=["source", "dominant_delta_s", "rec_width_s",
                     "dense_ppd", "raw_ppd", "est_ppd", "saving_ppt"],
        )
        .sort_values("source")
        .reset_index(drop=True)
    )


def test_tier_plan_differential_vs_literal(spark):
    want = _literal_tier_plan(spark)
    got = (
        q_tier_plan(spark, SF_DIR)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_tier_plan_invariants(spark):
    out = q_tier_plan(spark, SF_DIR).toPandas()
    assert set(out["rec_width_s"]).issubset(set(TIER_LADDER_S))
    # a tier is never finer than the native cadence (unless at the cap)
    cap = TIER_LADDER_S[-1]
    ok = (out["rec_width_s"] >= out["dominant_delta_s"]) | (
        out["rec_width_s"] == cap
    )
    assert ok.all()
    assert (out["est_ppd"] == out[["dense_ppd", "raw_ppd"]].min(axis=1)).all()
    assert out["saving_ppt"].between(0, 1000).all()


def test_tier_plan_plan_bounded(spark):
    df = q_tier_plan(spark, SF_DIR)
    plan = _plan(df)
    assert "UNBOUNDED FOLLOWING" not in plan
    assert_no_unpartitioned_windows(df)
