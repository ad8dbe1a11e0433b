"""r05y operators: per-doc unigram-entropy proxy, curriculum data
ordering, and 1-NN label-purity census."""

import hashlib
import re
from collections import Counter

import pandas as pd

from tinybrain_spark.driver_contract.corpus import (
    q_curriculum_order,
    q_unigram_entropy,
)
from tinybrain_spark.driver_contract.vectors import (
    q_ann_nn_bucketed,
    q_knn_purity,
)

from .test_plans import SF_DIR, _plan


def _h56(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


def _bitlen(n: int) -> int:
    return n.bit_length()


# ---------------------------------------------------------------------------
# q_unigram_entropy
# ---------------------------------------------------------------------------


def test_unigram_entropy_differential_vs_literal(spark):
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    rows = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        counts = Counter(re.split(" +", text.strip()))
        n = sum(counts.values())
        sc = sum(c * _bitlen(c) for c in counts.values())
        ent = n * _bitlen(n) - sc
        rows.append((int(did), n, len(counts), ent, ent * 1000 // n))
    want = (
        pd.DataFrame(
            rows,
            columns=["doc_id", "n_words", "n_distinct", "ent_units",
                     "ent_mu_per_word"],
        )
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    got = (
        q_unigram_entropy(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_unigram_entropy_zero_exchange_one_split(spark):
    plan = _plan(q_unigram_entropy(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, "entropy must be embarrassingly parallel"
    # the sorted array must be built once, not re-inlined per element_at
    opt = q_unigram_entropy(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1, "split(text) must appear exactly once"


def test_unigram_entropy_bounds(spark):
    out = q_unigram_entropy(spark, SF_DIR).toPandas()
    # 0 <= ent_units <= n*bitlen(n); all-same-word doc scores exactly 0
    assert (out["ent_units"] >= 0).all()
    ub = out["n_words"] * out["n_words"].map(lambda n: int(n).bit_length())
    assert (out["ent_units"] <= ub).all()
    # single-word (n_distinct == 1) docs must score 0, if any exist
    ones = out[out["n_distinct"] == 1]
    assert (ones["ent_units"] == 0).all()


# ---------------------------------------------------------------------------
# q_curriculum_order
# ---------------------------------------------------------------------------


def test_curriculum_order_differential_vs_literal(spark):
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    )
    rows = []
    for did, text in zip(docs["doc_id"], docs["text"]):
        n = len(re.split(" +", text.strip()))
        rows.append(
            (int(did), _bitlen(n), _h56(f"cur:{int(did)}"))
        )
    lit = sorted(rows, key=lambda r: (r[1], r[2], r[0]))
    want = pd.DataFrame(
        [(i + 1, d, b) for i, (d, b, _) in enumerate(lit)],
        columns=["rank", "doc_id", "bucket"],
    )
    got = (
        q_curriculum_order(spark, SF_DIR)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_curriculum_order_is_total_permutation(spark):
    out = q_curriculum_order(spark, SF_DIR).toPandas()
    n = len(out)
    assert sorted(out["rank"]) == list(range(1, n + 1))
    assert out["doc_id"].nunique() == n
    # buckets are non-decreasing along the curriculum
    by_rank = out.sort_values("rank")["bucket"].to_numpy()
    assert (by_rank[1:] >= by_rank[:-1]).all()


# ---------------------------------------------------------------------------
# q_knn_purity
# ---------------------------------------------------------------------------


def test_knn_purity_consistent_with_bucketed_nn(spark):
    nn = q_ann_nn_bucketed(spark, SF_DIR).toPandas()
    emb = pd.read_parquet(
        f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "label"]
    )
    lab = dict(zip(emb["vec_id"].astype(int), emb["label"].astype(int)))
    per = {}
    for v, n in zip(nn["vec_id"], nn["nn_id"]):
        lv = lab[int(v)]
        tot, pure = per.get(lv, (0, 0))
        per[lv] = (tot + 1, pure + (1 if lab[int(n)] == lv else 0))
    want = (
        pd.DataFrame(
            [
                (label, tot, pure, pure * 1000 // tot)
                for label, (tot, pure) in per.items()
            ],
            columns=["label", "n_vecs", "n_pure", "purity_permille"],
        )
        .sort_values("label")
        .reset_index(drop=True)
    )
    got = (
        q_knn_purity(spark, SF_DIR)
        .toPandas()
        .sort_values("label")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_knn_purity_bounds(spark):
    out = q_knn_purity(spark, SF_DIR).toPandas()
    assert (out["n_pure"] <= out["n_vecs"]).all()
    assert out["purity_permille"].between(0, 1000).all()
