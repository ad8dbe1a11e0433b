"""r05f operators: integer Haar pyramid, z-order tile bucketing,
bigram-rarity scoring, token-budget waterfilling.

The DuckDB oracle gate (tools/check_oracle.py) pins exact values; these
tests pin the SEMANTIC invariants the oracle can't state — Haar
invertibility, Morton-block spatial locality, waterfill optimality —
plus the plan shapes (no unpartitioned windows, bounded exchanges)."""

import numpy as np
from pyspark.sql import functions as F

from tinybrain_spark.driver_contract.corpus import (
    TOKEN_BUDGET_PERMILLE,
    q_token_budget_fill,
)
from tinybrain_spark.driver_contract.sequences import TRUNC, token_table
from tinybrain_spark.driver_contract.text import q_bigram_rarity
from tinybrain_spark.driver_contract.tiers import (
    q_haar_pyramid,
    q_zorder_tiles,
)

from .test_plans import SF_DIR, assert_no_unpartitioned_windows


# ---------------------------------------------------------------------------
# Haar pyramid
# ---------------------------------------------------------------------------


def _haar_forward(t: np.ndarray):
    s = (t[0::2] + t[1::2]) // 2
    d = t[0::2] - t[1::2]
    return s, d


def _haar_invert(s: np.ndarray, d: np.ndarray) -> np.ndarray:
    # a = s + ((d + 1) >> 1), b = a - d — exact inverse of the
    # S-transform for any integers (floor shift on the +1-biased detail)
    a = s + ((d + 1) >> 1)
    b = a - d
    out = np.empty(2 * len(s), dtype=np.int64)
    out[0::2] = a
    out[1::2] = b
    return out


def test_haar_s_transform_is_exactly_invertible():
    rng = np.random.default_rng(7)
    for _ in range(20):
        t = rng.integers(-512, 512, size=64).astype(np.int64)
        s, d = _haar_forward(t)
        assert (_haar_invert(s, d) == t).all()
    # negative-value floor semantics: numpy // floors, matching the
    # query's nonneg domain trivially; pin a signed case explicitly
    t = np.array([-3, 2, 5, -7], dtype=np.int64)
    s, d = _haar_forward(t)
    assert (_haar_invert(s, d) == t).all()


def test_haar_pyramid_differential_vs_numpy(spark):
    tok = {
        r["user_id"]: np.array(r["tokens"], dtype=np.int64)
        for r in token_table(spark, SF_DIR).collect()
        if len(r["tokens"]) >= TRUNC
    }
    got = {
        r["user_id"]: r.asDict()
        for r in q_haar_pyramid(spark, SF_DIR).collect()
    }
    assert set(got) == set(tok)
    for uid, t in tok.items():
        s1, d1 = _haar_forward(t)
        s2, d2 = _haar_forward(s1)
        s3, d3 = _haar_forward(s2)
        row = got[uid]
        assert row["n_tokens"] == len(t)
        assert row["d1_abs"] == int(np.abs(d1).sum())
        assert row["d2_abs"] == int(np.abs(d2).sum())
        assert row["d3_abs"] == int(np.abs(d3).sum())
        assert row["s3_sum"] == int(s3.sum())


def test_haar_pyramid_plan_no_extra_exchange(spark):
    # the in-row lifting must add NOTHING to token_table's plan: one
    # window+groupBy pair (same hash partitioning), zero new exchanges
    df = q_haar_pyramid(spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2


# ---------------------------------------------------------------------------
# z-order tiles
# ---------------------------------------------------------------------------


def _zkey(x: int, y: int) -> int:
    k = 0
    for b in range(8):
        k |= ((x >> b) & 1) << (2 * b)
        k |= ((y >> b) & 1) << (2 * b + 1)
    return k


def test_zorder_blocks_are_aligned_8x8_squares(spark):
    rows = q_zorder_tiles(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # 64 consecutive z-keys == one aligned 8x8 square: the locality
        # guarantee that makes the bucketing worth a shuffle
        assert r["x_max"] - r["x_min"] <= 7
        assert r["y_max"] - r["y_min"] <= 7
        assert r["x_min"] % 8 + (r["x_max"] - r["x_min"]) <= 7
        assert r["y_min"] % 8 + (r["y_max"] - r["y_min"]) <= 7
        assert _zkey(r["x_min"], r["y_min"]) // 64 == r["zblock"]


def test_zorder_single_exchange(spark):
    plan = (
        q_zorder_tiles(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 1  # one groupBy, map-side combined


# ---------------------------------------------------------------------------
# token-budget waterfill
# ---------------------------------------------------------------------------


def _brute_waterfill(toks: list[int], budget: int):
    # smallest cap search by direct simulation (test-only; python ints)
    lo, hi = 0, max(toks)
    while lo < hi:  # largest c with sum(min(t, c)) <= budget
        mid = (lo + hi + 1) // 2
        if sum(min(t, mid) for t in toks) <= budget:
            lo = mid
        else:
            hi = mid - 1
    return lo


def test_token_budget_fill_is_max_min_fair(spark):
    rows = q_token_budget_fill(spark, SF_DIR).collect()
    assert rows
    toks = [r["toks"] for r in rows]
    total = sum(toks)
    budget = total * TOKEN_BUDGET_PERMILLE // 1000
    assert sum(r["alloc"] for r in rows) <= budget
    cstar = _brute_waterfill(toks, budget)
    for r in rows:
        if r["funded"]:
            assert r["alloc"] == r["toks"]
            assert r["toks"] <= cstar + 1  # funded iff toks fit under cap
        else:
            assert r["alloc"] < r["toks"]
            # every unfunded source gets the same integer cap, and no
            # +1 bump could still fit: allocation is maximal
            assert r["alloc"] >= cstar - 1
    unfunded = {r["alloc"] for r in rows if not r["funded"]}
    assert len(unfunded) <= 1


def test_token_budget_fill_zero_windows(spark):
    df = q_token_budget_fill(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan  # in-row waterfill: no window, ever
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange") <= 2  # groupBy(source) + 1-row agg


# ---------------------------------------------------------------------------
# bigram rarity
# ---------------------------------------------------------------------------


def test_bigram_rarity_bounds_and_hapax(spark):
    rows = q_bigram_rarity(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["hapax"] <= r["n_bigrams"]
        # each occurrence scores 64 - bitlen(count) in [1, 63]
        assert r["n_bigrams"] <= r["rarity_bits"] <= 63 * r["n_bigrams"]


def test_bigram_rarity_hashes_after_explode(spark):
    # r05h rule: md5 must appear in a flat projection, never inside a
    # transform/filter lambda (the MessageDigest-contention cliff)
    plan = (
        q_bigram_rarity(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "lambdafunction" in line:
            assert "md5" not in line
