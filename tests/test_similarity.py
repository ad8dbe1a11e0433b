"""Multiband LSH scale path: derived plane counts, bounded buckets,
and 1-NN correctness on planted near-duplicates."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tinybrain_spark.datagen import generate_embeddings
from tinybrain_spark.similarity import multiband_nn, n_planes_for


def test_n_planes_scales_with_corpus():
    assert n_planes_for(100) == 4
    assert n_planes_for(256 * 256) == 8
    assert n_planes_for(10**9) == 22
    assert n_planes_for(10**12) == 24  # clamped
    # bucket count tracks corpus size -> expected bucket size ~constant
    for n in (10**6, 10**9):
        assert n / 2 ** n_planes_for(n) <= 512


def test_multiband_nn_finds_planted_duplicates(spark):
    """Exact duplicates (identical embeddings, distinct ids) must be
    each other's 1-NN with cos_c == 999 or 1000."""
    emb = generate_embeddings(spark, 2000, n_dims=32, n_clusters=64)
    dupes = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    full = emb.unionByName(dupes)
    nn = multiband_nn(full, n_dims=32, n_vecs=2020, n_bands=3).toPandas()
    got = dict(zip(nn["vec_id"], nn["nn_id"]))
    cos = dict(zip(nn["vec_id"], nn["cos_c"]))
    found = sum(1 for i in range(20) if got.get(100000 + i) == i)
    assert found == 20  # every planted dupe resolves to its original
    assert all(cos[100000 + i] >= 999 for i in range(20))


def test_per_bucket_cap_bounds_candidates(spark):
    """A degenerate corpus (every vector identical -> one bucket per
    band) is cut to the bucket's first ``cap`` members: each of them
    gets exactly one neighbour from among them, and no other vector
    gets one."""
    n, cap = 400, 50
    one = generate_embeddings(spark, 1, n_dims=16, n_clusters=1)
    vec = one.collect()[0]["embedding"]
    degenerate = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(x)).cast("float") for x in vec]).alias(
            "embedding"
        ),
    )
    nn = multiband_nn(
        degenerate, n_dims=16, n_planes=6, n_bands=2, per_bucket_cap=cap
    ).collect()
    ids = sorted(r["vec_id"] for r in nn)
    assert ids == list(range(cap))  # one row per capped vector
    assert all(r["nn_id"] < cap and r["nn_id"] != r["vec_id"] for r in nn)


def test_multiband_deterministic(spark):
    emb = generate_embeddings(spark, 1000, n_dims=16)
    a = multiband_nn(emb, 16, n_vecs=1000).orderBy("vec_id").collect()
    b = multiband_nn(emb, 16, n_vecs=1000).orderBy("vec_id").collect()
    assert a == b


def test_ivf_topk_recall_vs_exact(spark):
    """IVF with n_probe cells must recover most of the exact top-10 on
    the clustered corpus, and all of it when probing every cell."""
    from tinybrain_spark.similarity import brute_force_topk_blocked, ivf_topk

    emb = generate_embeddings(spark, 4000, n_dims=32, n_clusters=128)
    probes = [
        (r["vec_id"], np.asarray(r["embedding"]))
        for r in emb.where(F.col("vec_id") < 4).collect()
    ]
    exact = {
        (r["probe_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk_blocked(emb, probes, k=10).collect()
    }
    # probing ALL cells must equal exact brute force
    full = {
        (r["probe_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(
            emb, probes, k=10, n_centroids=32, n_probe=32
        ).collect()
    }
    assert full == exact
    # probing a quarter of the cells keeps high recall on clustered data
    approx = ivf_topk(emb, probes, k=10, n_centroids=32, n_probe=8).collect()
    got = {(r["probe_id"], r["neighbor_id"]) for r in approx}
    want = {(p, n) for (p, _rk), n in exact.items()}
    recall = len(got & want) / len(want)
    assert recall >= 0.7, recall


def test_kmeans_quantizer_beats_degenerate_centroids(spark):
    """Quantizer quality on BLOCK-assigned clusters (vec_id // 64 ->
    cluster, so the N lowest vec_ids all live in cluster 0): head-N
    'centroids' collapse onto one cluster and partial-probe recall
    craters; the deterministic spherical k-means over the hash-ordered
    sample recovers the true cluster structure."""
    from tinybrain_spark.similarity import (
        brute_force_topk_blocked,
        ivf_topk,
        kmeans_centroids,
    )

    rng = np.random.Generator(np.random.Philox(key=[11, 0]))
    n_clusters, per, dim = 8, 64, 16
    centers = rng.normal(size=(n_clusters, dim))
    rows = [
        (
            i,
            [float(x) for x in centers[i // per] + 0.05 * rng.normal(size=dim)],
        )
        for i in range(n_clusters * per)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = [
        (r["vec_id"], np.asarray(r["embedding"]))
        for r in emb.where(F.col("vec_id").isin([0, 100, 300, 500])).collect()
    ]
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in brute_force_topk_blocked(emb, probes, k=10).collect()
    }

    def recall(cents):
        got = {
            (r["probe_id"], r["neighbor_id"])
            for r in ivf_topk(
                emb, probes, k=10, n_centroids=8, n_probe=2, centroids=cents
            ).collect()
        }
        return len(got & exact) / len(exact)

    head = emb.orderBy("vec_id").limit(8).collect()
    head_c = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in head]
    )
    km = kmeans_centroids(emb, 8, sample_n=512)
    r_km, r_head = recall(km), recall(head_c)
    assert r_km > r_head, (r_km, r_head)
    assert r_km >= 0.9, r_km


def test_kmeans_centroids_deterministic(spark):
    from tinybrain_spark.similarity import kmeans_centroids

    emb = generate_embeddings(spark, 800, n_dims=16, n_clusters=32)
    a = kmeans_centroids(emb, 16, sample_n=256)
    b = kmeans_centroids(emb.repartition(7), 16, sample_n=256)
    assert np.array_equal(a, b)
