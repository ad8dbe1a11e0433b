"""r06a operators: char-level candidate verification (edit distance)
and the native-resolution tier-planner census."""

import hashlib
import re
from collections import Counter, defaultdict
from itertools import combinations

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.dedup import (
    EDITDIST_PREFIX,
    EDITDIST_SIM_PPT,
    _MINHASH_AB,
    _MINHASH_K,
    _MINHASH_P,
    q_editdist_verify,
)
from tinybrain_spark.driver_contract.tiers import q_native_resolution

from .test_plans import SF_DIR, _plan


def _h56(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


# ---------------------------------------------------------------------------
# q_editdist_verify
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    # textbook O(len(a)*len(b)) DP, the semantics F.levenshtein pins
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _lev_batch(pa: list[str], pb: list[str]) -> np.ndarray:
    """Exact Levenshtein for P string pairs at once — the textbook DP
    row recurrence vectorized ACROSS pairs (axis 0) with the
    min-accumulate trick for the in-row left-neighbor dependency:
    cur[j] = min(cand[j-1] + 0, min_{k<j-1}(cand[k] + (j-1-k)), i + j)
           = min over the running min of (cand[k] - k), re-offset.
    B pads with a sentinel that never matches so cells at (<=la, <=lb)
    are unaffected; each pair's answer is read at row la, column lb."""
    P = len(pa)
    la = np.array([len(a) for a in pa], np.int32)
    lb = np.array([len(b) for b in pb], np.int32)
    ma, mb = int(la.max(initial=0)), int(lb.max(initial=0))
    B = np.full((P, mb), -1, np.int32)
    A = np.full((P, ma), -2, np.int32)
    for p in range(P):
        A[p, : la[p]] = [ord(c) for c in pa[p]]
        B[p, : lb[p]] = [ord(c) for c in pb[p]]
    j = np.arange(mb, dtype=np.int32)
    prev = np.tile(np.arange(mb + 1, dtype=np.int32), (P, 1))
    out = np.zeros(P, np.int32)
    done = la == 0
    out[done] = lb[done]
    for i in range(1, ma + 1):
        cand = np.minimum(
            prev[:, :-1] + (A[:, i - 1 : i] != B), prev[:, 1:] + 1
        )
        run = np.minimum.accumulate(cand - j, axis=1)
        cur = np.empty_like(prev)
        cur[:, 0] = i
        cur[:, 1:] = np.minimum(run + j, i + 1 + j)
        hit = la == i
        if hit.any():
            out[hit] = cur[hit, lb[hit]]
        prev = cur
    return out


def _literal_editdist() -> pd.DataFrame:
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    sigs, prefix = {}, {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        ws = {_h56(w) for w in re.split(" +", text.strip())}
        sigs[int(did)] = [
            min(((h % _MINHASH_P) * a + b) % _MINHASH_P for h in ws)
            for a, b in _MINHASH_AB
        ]
        prefix[int(did)] = text[:EDITDIST_PREFIX]
    buckets = defaultdict(list)
    for did, s in sigs.items():
        for bi in range(_MINHASH_K // 2):
            buckets[_h56(f"{bi}:{s[2*bi]}:{s[2*bi+1]}")].append(did)
    cand = set()
    for ids in buckets.values():
        cand.update(combinations(sorted(ids), 2))
    cand = sorted(cand)
    # Cheap exact lower bound prunes the ~10^5 candidate pairs before
    # the O(256^2) DP: every edit changes the char multiset's L1
    # distance by <= 2 (substitution) or 1 (ins/del) and the length by
    # <= 1, so lev >= max(|la-lb|, ceil(L1/2)).  Pairs whose BOUND
    # already exceeds the keep threshold d <= floor(0.4*mx) can't be
    # emitted; only survivors get the exact batch DP (which also
    # re-checks the threshold, so the bound only has to be sound).
    hist = {
        did: Counter(p) for did, p in prefix.items()
    }
    survivors = []
    for x, y in cand:
        hx, hy = hist[x], hist[y]
        l1 = sum(abs(hx[c] - hy[c]) for c in hx.keys() | hy.keys())
        lx, ly = len(prefix[x]), len(prefix[y])
        bound = max(abs(lx - ly), (l1 + 1) // 2)
        mx = max(lx, ly, 1)
        if bound * 1000 <= 400 * mx:
            survivors.append((x, y))
    rows = []
    if survivors:
        d = _lev_batch(
            [prefix[x] for x, _ in survivors],
            [prefix[y] for _, y in survivors],
        )
        for (x, y), dist in zip(survivors, d.tolist()):
            mx = max(len(prefix[x]), len(prefix[y]), 1)
            sim = (mx - dist) * 1000 // mx
            if sim >= EDITDIST_SIM_PPT:
                rows.append((x, y, dist, sim))
    return (
        pd.DataFrame(rows, columns=["doc_a", "doc_b", "edit_dist", "sim_ppt"])
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )


def test_lev_batch_matches_textbook_dp():
    pairs = [
        ("kitten", "sitting"),
        ("", "abc"),
        ("abc", ""),
        ("same", "same"),
        ("a" * 40, "a" * 17 + "b" + "a" * 22),
        ("flaw", "lawn"),
        ("abcdef", "azcedf"),
        ("xyz", "xyz" * 5),
    ]
    got = _lev_batch([a for a, _ in pairs], [b for _, b in pairs])
    assert got.tolist() == [_lev(a, b) for a, b in pairs]


def test_editdist_differential_vs_literal(spark):
    want = _literal_editdist()
    got = (
        q_editdist_verify(spark, SF_DIR)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_editdist_bounds_and_prefix_projection(spark):
    df = q_editdist_verify(spark, SF_DIR)
    out = df.toPandas()
    assert (out["doc_a"] < out["doc_b"]).all()
    assert out["sim_ppt"].between(EDITDIST_SIM_PPT, 1000).all()
    assert out["edit_dist"].ge(0).all()
    # the pair join must ship <= EDITDIST_PREFIX-char prefixes, never
    # the full text: the prefix alias happens in a Project directly on
    # the scan side (BELOW the join), so only 256-char strings shuffle.
    # (A bare count of `substring(text` is brittle — pushed-down
    # isnotnull filters duplicate the expression next to each Project.)
    # (The minhash-signature branch references raw text too — at ITS
    # scan, under split/trim, reduced to 8-byte sigs by the aggregate —
    # so the pin targets the prefix aliases, not a global text grep.)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    assert any("AS pa#" in l and "substring(text" in l for l in lines), opt
    assert any("AS pb#" in l and "substring(text" in l for l in lines), opt


# ---------------------------------------------------------------------------
# q_native_resolution
# ---------------------------------------------------------------------------


def _literal_native_resolution() -> pd.DataFrame:
    ev = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["ts", "event_type", "event_id"]
    )
    us = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    d = pd.DataFrame(
        {"source": ev["event_type"], "us": us, "eid": ev["event_id"]}
    ).sort_values(["source", "us", "eid"])
    rows = []
    for src, g in d.groupby("source"):
        deltas = g["us"].diff().dropna().astype("int64")
        secs = Counter(int(x) // 1_000_000 for x in deltas)
        # modal delta, ties -> smallest delta
        dom, n_dom = min(secs.items(), key=lambda kv: (-kv[1], kv[0]))
        n = sum(secs.values())
        rows.append((src, dom, n_dom, n, n_dom * 1000 // n))
    return (
        pd.DataFrame(
            rows,
            columns=["source", "dominant_delta_s", "n_dominant",
                     "n_deltas", "share_ppt"],
        )
        .sort_values("source")
        .reset_index(drop=True)
    )


def test_native_resolution_differential_vs_literal(spark):
    want = _literal_native_resolution()
    got = (
        q_native_resolution(spark, SF_DIR)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_native_resolution_plan_day_bounded(spark):
    plan = _plan(q_native_resolution(spark, SF_DIR))
    # never the O(n^2) frame, never a one-task full-history sort
    assert "UNBOUNDED FOLLOWING" not in plan
    assert "WindowExec: No Partition Defined" not in plan


def test_native_resolution_dominance_invariants(spark):
    out = q_native_resolution(spark, SF_DIR).toPandas()
    assert (out["n_dominant"] <= out["n_deltas"]).all()
    assert out["share_ppt"].between(1, 1000).all()
    assert out["dominant_delta_s"].ge(0).all()
