"""r05w operators: blocklist safety-filter census and SentencePiece-
style character-coverage census."""

import re
from collections import Counter

import pandas as pd

from tinybrain_spark.driver_contract.corpus import (
    CHAR_COVER_PERMILLE,
    q_char_coverage,
)
from tinybrain_spark.driver_contract.text import _BLOCKLIST, q_blocklist_filter

from .test_plans import SF_DIR, _plan, assert_no_unpartitioned_windows


def test_blocklist_differential_vs_literal(spark):
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["source", "text"]
    )
    hits = docs["text"].map(
        lambda t: sum(
            1 for w in re.split(" +", t.strip()) if w in _BLOCKLIST
        )
    )
    want = (
        pd.DataFrame({"source": docs["source"], "hits": hits})
        .groupby("source")
        .agg(
            docs=("hits", "size"),
            flagged_docs=("hits", lambda s: int((s > 0).sum())),
            total_hits=("hits", "sum"),
        )
        .reset_index()
    )
    want["flagged_permille"] = (
        want["flagged_docs"] * 1000 // want["docs"]
    )
    got = (
        q_blocklist_filter(spark, SF_DIR)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got,
        want.sort_values("source")
        .reset_index(drop=True)
        .astype(got.dtypes.to_dict()),
    )


def test_blocklist_plan_lambda_free_one_exchange(spark):
    df = q_blocklist_filter(spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in opt
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, "blocklist census must be one groupBy"


def _coverage_literal(docs: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for lang, g in docs.groupby("lang"):
        cnt: Counter = Counter()
        for t in g["text"]:
            cnt.update(t)
        total = sum(cnt.values())
        target = (total * CHAR_COVER_PERMILLE + 999) // 1000
        cum, k = 0, 0
        for _ch, c in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0])):
            if cum >= target:
                break
            cum += c
            k += 1
        rows.append((lang, total, len(cnt), k))
    return (
        pd.DataFrame(
            rows, columns=["lang", "total_chars", "alphabet", "chars_999"]
        )
        .sort_values("lang")
        .reset_index(drop=True)
    )


def test_char_coverage_differential_vs_literal(spark):
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["lang", "text"]
    )
    want = _coverage_literal(docs)
    got = (
        q_char_coverage(spark, SF_DIR)
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))
    assert_no_unpartitioned_windows(q_char_coverage(spark, SF_DIR))


def test_char_coverage_minimality(spark):
    """chars_999 is minimal: the top chars_999-1 characters fall short
    of the 99.9% target."""
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["lang", "text"]
    )
    got = q_char_coverage(spark, SF_DIR).toPandas()
    for _, row in got.iterrows():
        cnt: Counter = Counter()
        for t in docs[docs["lang"] == row["lang"]]["text"]:
            cnt.update(t)
        ordered = sorted(cnt.values(), reverse=True)
        total = sum(ordered)
        target = (total * CHAR_COVER_PERMILLE + 999) // 1000
        k = int(row["chars_999"])
        assert sum(ordered[:k]) >= target
        if k > 1:
            assert sum(ordered[: k - 1]) < target
