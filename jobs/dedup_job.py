"""Production near-dup dedup job: documents parquet in, survivors out.

Pipeline (all stages reuse the oracle-gated driver-contract queries):
  1. MinHash signatures over distinct words -> banded candidate pairs
  2. connected components over the candidate graph (hash-min label
     propagation) -> cluster ids
  3. survivors = min doc_id per cluster; everything else is dropped
     with its cluster id recorded for audit

Usage:
  spark-submit --py-files tinybrain_spark.zip jobs/dedup_job.py \
      --input /data/docs_dir --output /warehouse/dedup [--master ...]

``--input`` is a directory containing documents.parquet (the driver
testdata layout); survivors/, clusters/, and one JSON stats line on
stdout are produced under ``--output``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="directory containing documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tinybrain_spark.driver_contract.dedup import q_dedup_clusters
    from tinybrain_spark.session import get_spark, load_table

    spark = get_spark("dedup-job", master=args.master)
    try:
        t0 = time.time()
        clusters = q_dedup_clusters(spark, args.input)
        docs = load_table(spark, args.input, "documents").select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        from pyspark.sql import Observation

        # observe() collects both counts DURING the survivors write —
        # one job instead of two extra count() actions (CollectMetrics
        # is a pushdown barrier, so the survivor filter above it cannot
        # starve the n_docs count)
        obs = Observation("dedup_stats")
        labeled = docs.join(clusters, "doc_id").observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("doc_id") == F.col("cluster_id"), 1)
            ).alias("n_survivors"),
        )
        survivors = labeled.where(F.col("doc_id") == F.col("cluster_id"))

        survivors.write.mode("overwrite").parquet(
            os.path.join(args.output, "survivors")
        )
        clusters.write.mode("overwrite").parquet(
            os.path.join(args.output, "clusters")
        )
        got = obs.get
        n_docs = int(got["n_docs"])
        n_survivors = int(got["n_survivors"])
        print(
            json.dumps(
                {
                    "n_docs": n_docs,
                    "n_survivors": n_survivors,
                    "n_dropped": n_docs - n_survivors,
                    "dup_rate": round(1 - n_survivors / max(n_docs, 1), 4),
                    "wall_sec": round(time.time() - t0, 2),
                }
            )
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
