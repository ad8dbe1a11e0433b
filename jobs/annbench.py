"""ANN scale evidence: multiband LSH candidate generation at >=10^6
vectors (VERDICT r01 item 3).

Measures, at N/4 and N vectors:
  * derived plane count and the resulting bucket-size distribution,
  * candidate-pair counts (computed exactly from capped bucket sizes —
    sum over buckets of s*(s-1)/2 per band — without materializing the
    pair join), demonstrating ~linear growth in N,
  * end-to-end multiband 1-NN wall time + recall vs exact brute force
    on a probe subsample.

Appends a markdown section to BENCH/NOTES.md.

Usage:
  python jobs/annbench.py [--n 1000000] [--dims 64] [--bands 2]
                          [--cap 512] [--out BENCH/NOTES.md]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F


def bucket_stats(emb, n_dims, n_planes, n_bands, cap):
    """Bucket-size distribution + exact capped candidate-pair count,
    from one aggregation per band (no pair join materialized)."""
    from tinybrain_spark.similarity import bucket_udf

    stats = []
    for b in range(n_bands):
        u = bucket_udf(n_dims, n_planes, plane_offset=b * n_planes)
        sizes = (
            emb.select(u("embedding").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("s"))
            .select(F.least(F.col("s"), F.lit(cap)).alias("s"))
        )
        row = sizes.agg(
            F.count("*").alias("n_buckets"),
            F.max("s").alias("max_s"),
            F.expr("percentile_approx(s, 0.5)").alias("p50_s"),
            F.expr("percentile_approx(s, 0.99)").alias("p99_s"),
            F.sum(F.col("s") * (F.col("s") - 1) / 2).alias("pairs"),
        ).collect()[0]
        stats.append(row)
    return stats


def recall_vs_exact(spark, emb, n_dims, n_vecs, n_bands, cap, n_probes=200):
    """Multiband 1-NN vs exact 1-NN on a probe subsample."""
    from tinybrain_spark.similarity import multiband_nn

    nn = multiband_nn(
        emb, n_dims, n_vecs=n_vecs, n_bands=n_bands, per_bucket_cap=cap
    ).where(F.col("vec_id") < n_probes)
    approx = {r["vec_id"]: r["nn_id"] for r in nn.collect()}

    # exact 1-NN for the probes: GEMM against the full corpus in numpy
    # batches via toPandas on a column subset (probe count is tiny)
    probes = (
        emb.where(F.col("vec_id") < n_probes).orderBy("vec_id").toPandas()
    )
    pid = probes["vec_id"].to_numpy()
    pmat = np.stack([np.asarray(v, dtype=np.float64) for v in probes["embedding"]])
    pmat /= np.linalg.norm(pmat, axis=1, keepdims=True)

    corpus = emb.select("vec_id", "embedding").toPandas()
    cid = corpus["vec_id"].to_numpy()
    cmat = np.stack([np.asarray(v, dtype=np.float64) for v in corpus["embedding"]])
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    scores = cmat @ pmat.T  # (N, P)
    scores[np.isin(cid, pid), :] = np.where(
        cid[np.isin(cid, pid), None] == pid[None, :], -np.inf,
        scores[np.isin(cid, pid), :],
    )
    top = np.argmax(scores, axis=0)
    exact = {int(p): int(cid[t]) for p, t in zip(pid, top)}

    hits = sum(1 for p, e in exact.items() if approx.get(p) == e)
    return hits / max(len(exact), 1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--dims", type=int, default=64)
    ap.add_argument("--bands", type=int, default=2)
    ap.add_argument("--cap", type=int, default=512)
    ap.add_argument("--recall-n", type=int, default=100_000,
                    help="corpus size for the exact-recall check")
    ap.add_argument("--out", default="BENCH/NOTES.md")
    args = ap.parse_args()

    from tinybrain_spark.datagen import generate_embeddings
    from tinybrain_spark.session import DEFAULT_CPUS, get_spark
    from tinybrain_spark.similarity import n_planes_for

    spark = get_spark("annbench")

    import tempfile

    lines = ["\n## ANN multiband LSH scale evidence (jobs/annbench.py)\n"]
    lines.append(
        f"bands={args.bands}, per_bucket_cap={args.cap}, dims={args.dims}; "
        f"planes derived per corpus size via n_planes_for(N)\n"
    )
    lines.append(
        "| N | planes | buckets/band | p50 | p99 | max | capped pairs/band"
        " | pairs/N |\n|---|---|---|---|---|---|---|---|\n"
    )
    for n in (args.n // 4, args.n):
        path = os.path.join(tempfile.mkdtemp(prefix="tb_ann_"), "emb")
        generate_embeddings(
            spark, n, args.dims, num_partitions=DEFAULT_CPUS * 2
        ).write.mode("overwrite").parquet(path)
        emb = spark.read.parquet(path)
        planes = n_planes_for(n)
        t0 = time.time()
        stats = bucket_stats(emb, args.dims, planes, args.bands, args.cap)
        wall = time.time() - t0
        pairs = int(sum(r["pairs"] for r in stats) / len(stats))
        r = stats[0]
        lines.append(
            f"| {n:,} | {planes} | {r['n_buckets']:,} | {r['p50_s']} "
            f"| {r['p99_s']} | {r['max_s']} | {pairs:,} "
            f"| {pairs / n:.1f} |\n"
        )
        print(
            f"N={n:,} planes={planes} buckets={r['n_buckets']:,} "
            f"p50={r['p50_s']} p99={r['p99_s']} max={r['max_s']} "
            f"pairs/band={pairs:,} pairs/N={pairs / n:.1f} "
            f"[{wall:.1f}s]"
        )

    # end-to-end 1-NN + recall at a size where exact brute force fits
    path = os.path.join(tempfile.mkdtemp(prefix="tb_ann_"), "emb")
    generate_embeddings(
        spark, args.recall_n, args.dims, num_partitions=DEFAULT_CPUS * 2
    ).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path)
    from tinybrain_spark.similarity import multiband_nn

    t0 = time.time()
    nn_count = multiband_nn(
        emb, args.dims, n_vecs=args.recall_n, n_bands=args.bands,
        per_bucket_cap=args.cap,
    ).count()
    nn_wall = time.time() - t0
    recall = recall_vs_exact(
        spark, emb, args.dims, args.recall_n, args.bands, args.cap
    )
    lines.append(
        f"\n1-NN end-to-end at N={args.recall_n:,}: {nn_count:,} vectors "
        f"matched in {nn_wall:.1f}s ({nn_count / nn_wall:,.0f} vec/s); "
        f"recall@1 vs exact brute force on 200 probes: {recall:.3f}\n"
    )
    print(f"1-NN N={args.recall_n:,}: {nn_wall:.1f}s, recall@1={recall:.3f}")

    with open(args.out, "a") as f:
        f.writelines(lines)
    print(f"appended to {args.out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
