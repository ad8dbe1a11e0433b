"""r05x operators: A/B uplift readout and MinHash estimator
calibration."""

import hashlib
import re
from collections import defaultdict
from itertools import combinations
from math import floor

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.dedup import (
    _MH_ACC_SAMPLE,
    _MINHASH_AB,
    _MINHASH_K,
    _MINHASH_P,
    q_minhash_accuracy,
    q_minhash_pairs,
)
from tinybrain_spark.driver_contract.events import q_ab_uplift

from .test_plans import SF_DIR, _plan


def _h56(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


# ---------------------------------------------------------------------------
# q_ab_uplift
# ---------------------------------------------------------------------------


def test_ab_uplift_differential_vs_literal(spark):
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    arm = ev["user_id"].map(lambda u: _h56(str(int(u))) % 2)
    v6 = np.floor(ev["value"].to_numpy() * 1_000_000.0).astype(np.int64)
    d = pd.DataFrame(
        {"event_type": ev["event_type"], "arm": arm, "v6": v6}
    )
    rows = []
    for etype, g in d.groupby("event_type"):
        a, b = g[g["arm"] == 0], g[g["arm"] == 1]
        if len(a) == 0 or len(b) == 0:
            continue
        ma = int(a["v6"].sum()) // len(a)
        mb = int(b["v6"].sum()) // len(b)
        rows.append((etype, len(a), len(b), ma, mb, ma - mb))
    want = (
        pd.DataFrame(
            rows,
            columns=["event_type", "n_a", "n_b", "mean_a_u6",
                     "mean_b_u6", "uplift_u6"],
        )
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    got = (
        q_ab_uplift(spark, SF_DIR)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_ab_uplift_one_exchange(spark):
    plan = _plan(q_ab_uplift(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, "uplift must be one groupBy"


# ---------------------------------------------------------------------------
# q_minhash_accuracy
# ---------------------------------------------------------------------------


def _literal_accuracy() -> pd.DataFrame:
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    word_sets, sigs = {}, {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        ws = {_h56(w) for w in re.split(" +", text.strip())}
        word_sets[int(did)] = ws
        sigs[int(did)] = [
            min(((h % _MINHASH_P) * a + b) % _MINHASH_P for h in ws)
            for a, b in _MINHASH_AB
        ]
    # banding: band key = md5-56bit of 'bi:sigA:sigB'
    buckets = defaultdict(list)
    for did, s in sigs.items():
        for bi in range(_MINHASH_K // 2):
            buckets[_h56(f"{bi}:{s[2*bi]}:{s[2*bi+1]}")].append(did)
    cand = set()
    for ids in buckets.values():
        for x, y in combinations(sorted(ids), 2):
            if _h56(f"{x}:{y}") % _MH_ACC_SAMPLE == 0:
                cand.add((x, y))
    rows = defaultdict(list)
    for x, y in cand:
        agree = sum(
            1 for i in range(_MINHASH_K) if sigs[x][i] == sigs[y][i]
        )
        inter = len(word_sets[x] & word_sets[y])
        union = len(word_sets[x]) + len(word_sets[y]) - inter
        rows[agree].append(inter * 1000 // union)
    out = [
        (
            agree,
            agree * 1000 // 8,
            len(v),
            sum(v) // len(v),
            min(v),
            max(v),
        )
        for agree, v in rows.items()
    ]
    return (
        pd.DataFrame(
            out,
            columns=["n_agree", "est_permille", "n_pairs",
                     "mean_jac_permille", "min_jac_permille",
                     "max_jac_permille"],
        )
        .sort_values("n_agree")
        .reset_index(drop=True)
    )


def test_minhash_accuracy_differential_vs_literal(spark):
    want = _literal_accuracy()
    got = (
        q_minhash_accuracy(spark, SF_DIR)
        .toPandas()
        .sort_values("n_agree")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_minhash_accuracy_bucket_sanity(spark):
    out = q_minhash_accuracy(spark, SF_DIR).toPandas()
    assert out["n_agree"].between(0, 8).all()
    assert (out["min_jac_permille"] <= out["mean_jac_permille"]).all()
    assert (out["mean_jac_permille"] <= out["max_jac_permille"]).all()
    assert out["max_jac_permille"].le(1000).all()
    # total pairs equals the deterministically sampled candidate count
    pairs = q_minhash_pairs(spark, SF_DIR).toPandas()
    n_cand = sum(
        1
        for a, b in zip(pairs["doc_a"], pairs["doc_b"])
        if _h56(f"{int(a)}:{int(b)}") % _MH_ACC_SAMPLE == 0
    )
    assert int(out["n_pairs"].sum()) == n_cand
