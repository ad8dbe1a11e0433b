"""r05u operators: max-drawdown/record-high census, temperature-
sampling mixture quotas, and the Zipf frequency-of-frequencies slope.

Value-level correctness is pinned by the DuckDB oracle gate
(tools/check_oracle.py); these tests pin the semantics differentially
vs literal pandas/python recomputes, the exact-apportionment
invariants, and the plan shapes (day-bounded windows, fingerprinted
shuffles, no HOF lambda leakage)."""

import hashlib
from collections import Counter, defaultdict
from math import floor, isqrt

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.corpus import (
    _MIXTURE_EPOCH,
    q_source_mixture,
    q_zipf_slope,
)
from tinybrain_spark.driver_contract.signals import q_max_drawdown

from .test_plans import SF_DIR, _plan, assert_no_unpartitioned_windows


# ---------------------------------------------------------------------------
# q_max_drawdown
# ---------------------------------------------------------------------------


def _drawdown_literal(events: pd.DataFrame) -> pd.DataFrame:
    ev = events.copy()
    sec = ev["ts"].map(lambda t: int(t.timestamp()))
    ev["sec"] = sec
    ev["day"] = sec // 86400
    ev["v6"] = np.floor(ev["value"].to_numpy() * 1_000_000.0).astype(
        np.int64
    )
    rows = []
    for (etype, day), g in ev.groupby(["event_type", "day"]):
        g = g.sort_values(["sec", "event_id"], kind="mergesort")
        pm, records, dd = None, 0, 0
        for v in g["v6"]:
            if pm is None or v > pm:
                records += 1
            if pm is not None:
                dd = max(dd, max(pm - v, 0))
            pm = v if pm is None else max(pm, v)
        rows.append((etype, day, len(g), records, dd))
    return pd.DataFrame(
        rows,
        columns=[
            "event_type",
            "day",
            "n_events",
            "n_record_highs",
            "max_drawdown_u6",
        ],
    ).sort_values(["event_type", "day"]).reset_index(drop=True)


def test_max_drawdown_differential_vs_literal(spark):
    events = pd.read_parquet(f"{SF_DIR}/events.parquet")
    want = _drawdown_literal(events)
    got = (
        q_max_drawdown(spark, SF_DIR)
        .toPandas()
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"day": "int64"}), want.astype(got.dtypes.to_dict())
    )


def test_max_drawdown_windows_day_bounded(spark):
    """The running max must partition by (type, day) — never an
    unpartitioned one-task funnel, never a FOLLOWING frame."""
    df = q_max_drawdown(spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "following" not in plan.lower().replace(
        "unboundedfollowing", ""
    ), "FOLLOWING frame crept into the drawdown window"


# ---------------------------------------------------------------------------
# q_source_mixture
# ---------------------------------------------------------------------------


def test_source_mixture_exact_apportionment(spark):
    out = q_source_mixture(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    by_src = docs.groupby("source").agg(
        docs=("doc_id", "size"), chars=("n_chars", "sum")
    )
    # weights are exact integer square roots of the doc counts
    for _, row in out.iterrows():
        assert row["docs"] == by_src.loc[row["source"], "docs"]
        assert row["chars"] == by_src.loc[row["source"], "chars"]
        assert row["weight"] == isqrt(int(row["docs"]))
    wsum = int(out["weight"].sum())
    # largest-remainder: quotas sum EXACTLY to the epoch, each within
    # 1 of its floor share, permille is the floor share of 1000
    assert int(out["epoch_quota"].sum()) == _MIXTURE_EPOCH
    for _, row in out.iterrows():
        base = (int(row["weight"]) * _MIXTURE_EPOCH) // wsum
        assert base <= row["epoch_quota"] <= base + 1
        assert row["permille"] == (int(row["weight"]) * 1000) // wsum


def test_source_mixture_alpha_flattens(spark):
    """alpha=0.5 must compress the spread: the quota ratio between the
    largest and smallest source is at most the doc-count ratio (and at
    least 1) — the whole point of temperature sampling."""
    out = q_source_mixture(spark, SF_DIR).toPandas()
    big, small = out["docs"].max(), out["docs"].min()
    qbig = int(out.loc[out["docs"].idxmax(), "epoch_quota"])
    qsmall = int(out.loc[out["docs"].idxmin(), "epoch_quota"])
    if small > 0 and qsmall > 0 and big > small:
        assert qbig / qsmall <= big / small + 1e-9
        assert qbig >= qsmall


# ---------------------------------------------------------------------------
# q_zipf_slope
# ---------------------------------------------------------------------------


def _f8(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


def _zipf_literal(docs: pd.DataFrame) -> pd.DataFrame:
    counts: Counter = Counter()
    for src, text in zip(docs["source"], docs["text"]):
        for w in text.strip().split():
            counts[(src, _f8(w))] += 1
    fb: Counter = Counter()
    for (src, _h), c in counts.items():
        fb[(src, c.bit_length() - 1)] += 1
    pts = defaultdict(list)
    for (src, b), nw in fb.items():
        pts[src].append((b, nw.bit_length() - 1))
    rows = []
    for src, p in pts.items():
        n = len(p)
        sx = sum(b for b, _ in p)
        sy = sum(y for _, y in p)
        sxy = sum(b * y for b, y in p)
        sxx = sum(b * b for b, _ in p)
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        if den <= 0:
            continue
        q, r = (num - num % den) // den, num % den
        rows.append((src, n, q * 1000 + (r * 1000) // den))
    return (
        pd.DataFrame(rows, columns=["source", "n_buckets", "slope_milli"])
        .sort_values("source")
        .reset_index(drop=True)
    )


def test_zipf_slope_differential_vs_literal(spark):
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["source", "text"]
    )
    want = _zipf_literal(docs)
    got = (
        q_zipf_slope(spark, SF_DIR)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got, want.astype(got.dtypes.to_dict())
    )


def test_zipf_slope_plan_fingerprinted_no_hof(spark):
    """The corpus-dominant shuffle keys on the 8-byte fingerprint and
    no lambda survives into the optimized plan (the r05j rule)."""
    df = q_zipf_slope(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in opt
    plan = _plan(df)
    # word text must not survive past the first projection: the
    # aggregate keys are (source, h), never (source, word)
    tree = plan.split("\n\n")[0]
    assert "hashpartitioning" in tree.lower() or "Exchange" in tree
