"""r05p operators: word-run census, Gini of doc lengths, Benford
first-digit audit, basket lift, and the exact k-means assignment step.

Value-level correctness is pinned by the DuckDB oracle gate
(tools/check_oracle.py); these tests pin the semantics differentially
vs literal pandas/numpy recomputes of the same definitions, plus the
plan shapes (in-row scans, broadcast-only joins, bounded windows)."""

import hashlib
import re
from collections import Counter
from itertools import combinations
from math import floor

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.corpus import q_gini_doclen, q_word_runs
from tinybrain_spark.driver_contract.dedup import q_cross_source_dup
from tinybrain_spark.driver_contract.events import q_type_lift
from tinybrain_spark.driver_contract.signals import q_benford
from tinybrain_spark.driver_contract.vectors import (
    KMEANS_K,
    KMEANS_Q,
    q_kmeans_assign,
    q_kmeans_update,
)

from .test_plans import SF_DIR, _plan


# ---------------------------------------------------------------------------
# q_word_runs
# ---------------------------------------------------------------------------


def _runs_literal(text: str) -> tuple[int, int, int]:
    ws = re.split(" +", text.strip())
    runs, mx, cur = 0, 0, 0
    prev = None
    for w in ws:
        cur = cur + 1 if w == prev else 1
        runs += 0 if w == prev else 1
        mx = max(mx, cur)
        prev = w
    return len(ws), runs, mx


def test_word_runs_differential_vs_literal(spark):
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["source", "text"]
    )
    lit = docs["text"].map(_runs_literal)
    ref = (
        pd.DataFrame(
            {
                "source": docs["source"],
                "words": lit.map(lambda t: t[0]),
                "runs": lit.map(lambda t: t[1]),
                "mx": lit.map(lambda t: t[2]),
            }
        )
        .groupby("source")
        .agg(
            docs=("words", "size"),
            total_words=("words", "sum"),
            total_runs=("runs", "sum"),
            max_run=("mx", "max"),
        )
        .reset_index()
        .sort_values("source", ignore_index=True)
    )
    got = (
        q_word_runs(spark, SF_DIR)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )
    for c in ("docs", "total_words", "total_runs", "max_run"):
        assert got[c].astype("int64").tolist() == ref[c].astype(
            "int64"
        ).tolist(), c
    exp = (ref["total_words"] * 1000 // ref["total_runs"]).astype("int64")
    assert got["runlen_milli"].astype("int64").tolist() == exp.tolist()


def test_word_runs_degenerate_repetition(spark):
    """A literally degenerate doc ('x x x x y') must census as 2 runs
    with max_run 4 — the exact signal the quality gate wants."""
    df = spark.createDataFrame(
        [("s", "x x  x x y"), ("s", "a b a")], ["source", "text"]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        row = q_word_runs(spark, d).collect()[0]
    assert row["docs"] == 2
    assert row["total_words"] == 8
    assert row["total_runs"] == 2 + 3
    assert row["max_run"] == 4


def test_word_runs_single_exchange(spark):
    """The run scan is in-row (one F.aggregate) — the plan's only
    exchange is the final groupBy(source)."""
    plan = _plan(q_word_runs(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree


# ---------------------------------------------------------------------------
# q_gini_doclen
# ---------------------------------------------------------------------------


def test_gini_differential_vs_pairwise_literal(spark):
    """The bucketed prefix-sum identity must equal the O(n^2) literal
    mean-absolute-difference Gini, exactly, in integer millis."""
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["source", "n_chars"]
    )
    got = (
        q_gini_doclen(spark, SF_DIR)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )
    for _, row in got.iterrows():
        xs = docs.loc[docs["source"] == row["source"], "n_chars"].to_numpy(
            dtype=np.int64
        )
        n, s = len(xs), int(xs.sum())
        t = int(np.abs(xs[:, None] - xs[None, :]).sum())
        den = 2 * n * s
        exp = (t // den) * 1000 + ((t % den) * 1000) // den
        assert int(row["gini_milli"]) == exp, row["source"]
        assert int(row["docs"]) == n and int(row["total_chars"]) == s


def test_gini_windows_partitioned_by_source(spark):
    from .test_plans import assert_no_unpartitioned_windows

    assert_no_unpartitioned_windows(q_gini_doclen(spark, SF_DIR))


# ---------------------------------------------------------------------------
# q_benford
# ---------------------------------------------------------------------------


def test_benford_differential_vs_literal(spark):
    ev = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["event_type", "value"]
    )
    n6 = (ev["value"].abs() * 1000000.0).map(floor).astype("int64")
    keep = n6 > 0
    digit = n6[keep].astype(str).str[0].astype("int64")
    ref = (
        pd.DataFrame({"event_type": ev.loc[keep, "event_type"], "digit": digit})
        .groupby(["event_type", "digit"])
        .size()
        .rename("n")
        .reset_index()
    )
    tot = ref.groupby("event_type")["n"].transform("sum")
    ref["permille"] = (ref["n"] * 1000 // tot).astype("int64")
    got = (
        q_benford(spark, SF_DIR)
        .toPandas()
        .sort_values(["event_type", "digit"], ignore_index=True)
    )
    ref = ref.sort_values(["event_type", "digit"], ignore_index=True)
    assert got["event_type"].tolist() == ref["event_type"].tolist()
    for c in ("digit", "n", "permille"):
        assert got[c].astype("int64").tolist() == ref[c].tolist(), c


# ---------------------------------------------------------------------------
# q_type_lift
# ---------------------------------------------------------------------------


def test_type_lift_differential_vs_literal(spark):
    ev = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["user_id", "ts", "event_type"]
    )
    ev["day"] = ev["ts"].dt.date
    baskets = (
        ev.groupby(["user_id", "day"])["event_type"]
        .agg(lambda s: tuple(sorted(set(s))))
        .tolist()
    )
    n_b = len(baskets)
    n_t = Counter(t for b in baskets for t in b)
    n_ab = Counter(p for b in baskets for p in combinations(b, 2))
    got = (
        q_type_lift(spark, SF_DIR)
        .toPandas()
        .sort_values(["type_a", "type_b"], ignore_index=True)
    )
    assert len(got) == len(n_ab)
    for _, row in got.iterrows():
        pair = (row["type_a"], row["type_b"])
        assert int(row["n_ab"]) == n_ab[pair], pair
        assert int(row["n_a"]) == n_t[pair[0]]
        assert int(row["n_b"]) == n_t[pair[1]]
        assert int(row["baskets"]) == n_b
        num, den = n_ab[pair] * n_b, n_t[pair[0]] * n_t[pair[1]]
        exp = (num // den) * 1000 + ((num % den) * 1000) // den
        assert int(row["lift_milli"]) == exp, pair


def test_type_lift_pairs_in_row_no_self_join(spark):
    """Pair enumeration is the source_overlap nested-transform pattern:
    no self-join of the basket table, no cartesian."""
    plan = _plan(q_type_lift(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" not in tree, tree


# ---------------------------------------------------------------------------
# q_kmeans_assign
# ---------------------------------------------------------------------------


def _kmeans_literal(sf_dir: str):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    qv = {
        int(r["vec_id"]): np.floor(
            np.asarray(r["embedding"], dtype=np.float64) * KMEANS_Q
        ).astype(np.int64)
        for _, r in emb.iterrows()
    }
    seeds = sorted(
        qv, key=lambda v: hashlib.md5(str(v).encode()).hexdigest()
    )[:KMEANS_K]
    seeds = sorted(
        seeds, key=lambda v: hashlib.md5(str(v).encode()).hexdigest()
    )
    stats = {
        cid: [sv, 0, 0] for cid, sv in enumerate(seeds)
    }  # seed, n, sum_dist
    for v, q in qv.items():
        enc = min(
            int(((q - qv[sv]) ** 2).sum()) * KMEANS_K + cid
            for cid, sv in enumerate(seeds)
        )
        cid, dist = enc % KMEANS_K, enc // KMEANS_K
        stats[cid][1] += 1
        stats[cid][2] += dist
    return stats


def test_kmeans_assign_differential_vs_literal(spark):
    stats = _kmeans_literal(SF_DIR)
    got = (
        q_kmeans_assign(spark, SF_DIR)
        .toPandas()
        .sort_values("cluster_id", ignore_index=True)
    )
    assert got["cluster_id"].tolist() == list(range(KMEANS_K))
    for _, row in got.iterrows():
        sv, n, sd = stats[int(row["cluster_id"])]
        assert int(row["seed_vec_id"]) == sv
        assert int(row["n_members"]) == n
        assert int(row["sum_dist"]) == sd
        exp = 0 if n == 0 else (sd // n) * 1000 + ((sd % n) * 1000) // n
        assert int(row["mean_dist_milli"]) == exp


def test_kmeans_broadcasts_centroids_no_windows(spark):
    """Seeds fold to one broadcast row; the argmin is in-row — the
    plan has no CartesianProduct and no unpartitioned WindowExec."""
    from .test_plans import assert_no_unpartitioned_windows

    df = q_kmeans_assign(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert_no_unpartitioned_windows(df)


def test_kmeans_update_differential_vs_literal(spark):
    """Lloyd update half: per-(cluster, dim) integer means vs a numpy
    literal of the same assignment.  Python // FLOORS on negatives
    while Spark DIV truncates toward zero — the literal must trunc."""
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    qv = {
        int(r["vec_id"]): np.floor(
            np.asarray(r["embedding"], dtype=np.float64) * KMEANS_Q
        ).astype(np.int64)
        for _, r in emb.iterrows()
    }
    seeds = sorted(
        qv, key=lambda v: hashlib.md5(str(v).encode()).hexdigest()
    )[:KMEANS_K]
    dims = len(next(iter(qv.values())))
    sums = {cid: np.zeros(dims, dtype=np.int64) for cid in range(KMEANS_K)}
    ns = {cid: 0 for cid in range(KMEANS_K)}
    for v, q in qv.items():
        enc = min(
            int(((q - qv[sv]) ** 2).sum()) * KMEANS_K + cid
            for cid, sv in enumerate(seeds)
        )
        cid = enc % KMEANS_K
        sums[cid] += q
        ns[cid] += 1

    def trunc_div(a: int, b: int) -> int:
        return abs(a) // b * (1 if a >= 0 else -1)

    got = q_kmeans_update(spark, SF_DIR).toPandas()
    assert len(got) == KMEANS_K * dims
    for _, row in got.iterrows():
        cid, dim = int(row["cluster_id"]), int(row["dim"])
        seed_c = int(qv[seeds[cid]][dim])
        assert int(row["n_members"]) == ns[cid]
        assert int(row["seed_coord"]) == seed_c
        if ns[cid] == 0:
            exp = seed_c
        else:
            exp = trunc_div(int(sums[cid][dim]), ns[cid])
        assert int(row["new_coord"]) == exp
        assert int(row["shift_sq"]) == (exp - seed_c) ** 2
    # negative coords must actually be exercised or the trunc-vs-floor
    # distinction above tested nothing
    assert (got["new_coord"] < 0).any()


def test_cross_source_dup_hand_counts(spark, tmp_path):
    """doc0 'x y' (src0) is first; doc1 (src1) and doc2 (src0) repeat
    it; doc3 (src1) is unique.  src0: 2 docs 1 dup (same-source),
    src1: 2 docs 1 dup (cross-source)."""
    from .test_analytics import _docs_dir

    d = _docs_dir(spark, tmp_path, ["x y", "x y", "x y", "unique z"])
    got = {r["source"]: (r["n_docs"], r["n_dups"], r["n_cross_source"],
                         r["dup_permille"])
           for r in q_cross_source_dup(spark, d).collect()}
    assert got == {"src0": (2, 1, 0, 500), "src1": (2, 1, 1, 500)}
