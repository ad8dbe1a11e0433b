"""r06h operators: trailing-cycle loop detector (order-sensitive
degenerate-generation filter) and audio downsampling through the
production avg kernel."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.media import q_audio_downsample
from tinybrain_spark.driver_contract.text import (
    LOOP_MAX_PERIOD,
    LOOP_MAX_REPS,
    q_loop_detect,
)

from .test_plans import SF_DIR, _plan


# ---------------------------------------------------------------------------
# q_loop_detect
# ---------------------------------------------------------------------------


def _trailing_reps(ws: list, p: int) -> int:
    """Literal: consecutive repeats of the last p-word block, capped."""
    n = len(ws)
    jmax = min(LOOP_MAX_REPS, n // p)
    last = ws[n - p:]
    reps = 1
    for j in range(2, jmax + 1):
        if ws[n - j * p : n - (j - 1) * p] == last:
            reps = j
        else:
            break
    return reps


def _literal_loops() -> pd.DataFrame:
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    rows = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        ws = text.strip().split()
        n = len(ws)
        if n < 2:
            continue
        best = -1
        for p in range(1, LOOP_MAX_PERIOD + 1):
            if n < 2 * p:
                continue
            reps = _trailing_reps(ws, p)
            if reps >= 2:
                best = max(best, reps * p * 8 + (8 - p))
        if best >= 0:
            covered = best // 8
            p = 8 - best % 8
            rows.append((int(did), p, covered // p, covered))
    return pd.DataFrame(
        rows, columns=["doc_id", "loop_p", "loop_reps", "covered_words"]
    ).astype("int64").sort_values("doc_id").reset_index(drop=True)


def test_loop_detect_differential_vs_literal(spark):
    want = _literal_loops()
    got = (
        q_loop_detect(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) > 0  # fixture has trailing repeats
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_loop_detect_order_sensitivity(spark):
    """The detector flags a looping tail and NOT the same words
    shuffled — the property q_repetition_score cannot see."""
    df = spark.createDataFrame(
        [
            (1, "fresh words then the end the end the end"),
            (2, "the fresh end words the then end the end"),  # shuffled
            (3, "aa bb cc aa bb cc aa bb cc"),  # p=3 x3 covers all
            (4, "x y z w"),
        ],
        "doc_id long, text string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/documents.parquet")
        got = (
            q_loop_detect(spark, td)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
    assert list(got["doc_id"]) == [1, 3]
    r1 = got[got["doc_id"] == 1].iloc[0]
    assert (r1["loop_p"], r1["loop_reps"], r1["covered_words"]) == (2, 3, 6)
    r3 = got[got["doc_id"] == 3].iloc[0]
    assert (r3["loop_p"], r3["loop_reps"], r3["covered_words"]) == (3, 3, 9)


def test_loop_detect_plan_zero_exchanges_bounded_splits(spark):
    plan = _plan(q_loop_detect(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    # entirely in-row: scan -> project -> filter, never a shuffle
    assert "Exchange" not in tree, tree
    # the split() inlining pathology stays dead: the optimized plan
    # carries a handful of split nodes (project + inferred filter),
    # never one per slice (was 94 before the lambda-bound rewrite)
    df = q_loop_detect(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") <= 4, opt.count("split(")


# ---------------------------------------------------------------------------
# q_audio_downsample
# ---------------------------------------------------------------------------


def _tier_pool_literal(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Independent integer recompute of the w=2 two-tier avg kernel:
    pair-sum with odd-tail doubling, toward-zero render."""

    def pair_accum(a: np.ndarray) -> np.ndarray:
        if len(a) % 2:
            a = np.concatenate([a, a[-1:]])
        return a[0::2] + a[1::2]

    def render(acc: np.ndarray, shift: int) -> np.ndarray:
        return np.where(acc < 0, -((-acc) >> shift), acc >> shift)

    a1 = pair_accum(v.astype(np.int64))
    a2 = pair_accum(a1)
    return render(a1, 1), render(a2, 2)


def _literal_audio() -> pd.DataFrame:
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    rows = []
    for did in docs["doc_id"].astype("int64"):
        n_ch = did % 2 + 1
        n_fr = did % 129 + 64
        i = np.arange(n_fr * n_ch, dtype=np.int64)
        v = (did * 37 + 73 * i) % 4001 - 2000
        chans = [v[i % n_ch == ch] for ch in range(n_ch)]
        t1s, t2s = zip(*(_tier_pool_literal(c) for c in chans))
        for tier, parts in ((1, t1s), (2, t2s)):
            allv = np.concatenate(parts)
            rows.append(
                (
                    int(did),
                    tier,
                    len(allv),
                    int(allv.sum()),
                    int(allv.min()),
                    int(allv.max()),
                )
            )
    return pd.DataFrame(
        rows,
        columns=["doc_id", "tier", "n_out", "sum_v", "min_v", "max_v"],
    ).astype("int64").sort_values(["doc_id", "tier"]).reset_index(drop=True)


def test_audio_downsample_differential_vs_literal(spark):
    want = _literal_audio()
    got = (
        q_audio_downsample(spark, SF_DIR)
        .toPandas()
        .sort_values(["doc_id", "tier"])
        .reset_index(drop=True)
    )
    # odd AND even per-channel lengths are both exercised by the
    # id%129+64 frame counts (covers the cyclic-doubling edge)
    assert (want["n_out"] % 2 == 1).any() and (want["n_out"] % 2 == 0).any()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_audio_downsample_plan_zero_exchanges(spark):
    plan = _plan(q_audio_downsample(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, tree
    assert "MapInPandas" in plan, plan
