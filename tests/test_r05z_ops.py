"""r05z operators: peak sliding-60s rate and language-ID margin
census."""

import re
from collections import Counter, defaultdict

import pandas as pd

from tinybrain_spark.driver_contract.signals import q_peak_rate
from tinybrain_spark.driver_contract.text import _LANG_MARKERS, q_lang_margin

from .test_plans import SF_DIR, _plan


# ---------------------------------------------------------------------------
# q_peak_rate
# ---------------------------------------------------------------------------


def _literal_peak() -> pd.DataFrame:
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet", columns=["ts", "event_type"])
    secs = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ).to_numpy()
    rows = defaultdict(Counter)
    for et, s in zip(ev["event_type"], secs):
        rows[(et, int(s) // 86400)][int(s)] += 1
    out = []
    for (et, day), cnt in rows.items():
        best, best_sec = -1, None
        for t in sorted(cnt):
            roll = sum(c for s, c in cnt.items() if t - 59 <= s <= t)
            sid = t % 86400
            if roll > best or (roll == best and sid < best_sec):
                best, best_sec = roll, sid
        out.append((et, day, best, best_sec))
    return (
        pd.DataFrame(out, columns=["event_type", "day", "peak_60s", "peak_sec"])
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )


def test_peak_rate_differential_vs_literal(spark):
    want = _literal_peak()
    got = (
        q_peak_rate(spark, SF_DIR)
        .toPandas()
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_peak_rate_plan_bounded(spark):
    plan = _plan(q_peak_rate(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    # pre-agg exchange + window re-key; the final census reuses the
    # window's (type, day) clustering
    assert tree.count("Exchange") == 2, tree
    assert "UNBOUNDED FOLLOWING" not in plan  # never the O(n^2) frame
    # every window partitioned (no one-task sort)
    assert "WindowExec: No Partition Defined" not in plan


# ---------------------------------------------------------------------------
# q_lang_margin
# ---------------------------------------------------------------------------


def _occ(text: str, w: str) -> int:
    padded = f" {text.strip().lower()} "
    return padded.count(f" {w} ") + _overlaps(padded, f" {w} ")


def _overlaps(s: str, sub: str) -> int:
    # str.count misses overlapping " a a " patterns the replace-based
    # length arithmetic counts; replicate the engine's semantics
    n = (len(s) - len(s.replace(sub, ""))) // len(sub)
    return n - s.count(sub)


def test_lang_margin_differential_vs_literal(spark):
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["text"])
    per = defaultdict(list)
    for text in docs["text"]:
        scores = {
            lang: sum(_occ(text, w) for w in words)
            for lang, words in _LANG_MARKERS.items()
        }
        guess, best = "und", 0
        for lang in ("en", "es", "fr", "de"):
            if scores[lang] > best:
                guess, best = lang, scores[lang]
        top = sorted(scores.values(), reverse=True)
        per[guess].append(top[0] - top[1])
    want = (
        pd.DataFrame(
            [
                (
                    g,
                    len(ms),
                    sum(1 for m in ms if m == 0),
                    sum(ms) * 1000 // len(ms),
                    max(ms),
                )
                for g, ms in per.items()
            ],
            columns=["guess_lang", "n_docs", "n_ambiguous",
                     "mean_margin_milli", "max_margin"],
        )
        .sort_values("guess_lang")
        .reset_index(drop=True)
    )
    got = (
        q_lang_margin(spark, SF_DIR)
        .toPandas()
        .sort_values("guess_lang")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_lang_margin_staged_projection_and_one_exchange(spark):
    df = q_lang_margin(spark, SF_DIR)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, "census must be one groupBy"
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # 4 langs x 3 markers = 12 replaces, computed ONCE — the precedence
    # CASE must reference the staged columns, not re-inline the scores
    assert opt.count("replace(") == 12, opt.count("replace(")
