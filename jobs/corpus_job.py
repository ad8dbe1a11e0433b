"""End-to-end training-corpus job: raw documents in, packed fixed-length
training sequences out — the full text pipeline assembled from the
oracle-gated driver-contract operators:

  1. quality gate (q_quality_filter: keep + first-failing-rule reason)
  2. exact dedup among kept docs (md5-of-text, min-doc_id survivor)
  3. leakage-proof content-hash split (train/validation/test — dup
     text always lands in one split, q_hash_split)
  4. corpus-vocab tokenization (q_tokenize_vocab) -> (doc, pos, id)
  5. per-split concat-and-chunk packing (packing.pack_tokens, the
     two-level prefix sum) -> capacity-sized token sequences

Usage:
  spark-submit --py-files tinybrain_spark.zip jobs/corpus_job.py \
      --input /data/docs_dir --output /warehouse/corpus \
      [--capacity 2048] [--master ...]

``--input`` is a directory containing documents.parquet (driver
testdata layout).  Writes split=train/validation/test parquet dirs of
(seq_id, tokens array<int>, n_tok) plus one JSON stats line on stdout.
Token conservation holds per split: every token of every kept,
deduplicated document appears in exactly one packed sequence.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SPLITS = ("train", "validation", "test")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="directory containing documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--capacity", type=int, default=2048,
                    help="tokens per packed training sequence")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from tinybrain_spark.driver_contract.corpus import q_hash_split
    from tinybrain_spark.driver_contract.text import (
        q_quality_filter,
        q_tokenize_vocab,
    )
    from tinybrain_spark.packing import pack_tokens
    from tinybrain_spark.session import get_spark, load_table

    spark = get_spark("tinybrain-corpus", master=args.master)
    t0 = time.time()

    docs = load_table(spark, args.input, "documents")
    n_in = docs.count()

    kept = (
        q_quality_filter(spark, args.input)
        .where(F.col("keep") == 1)
        .select("doc_id")
    )

    # exact dedup among kept docs: one survivor per text hash
    fp = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("text").alias("fp"),
    ).join(kept, "doc_id")
    survivors = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )

    # tokenize the full corpus once (vocab is corpus-derived), keep
    # survivor docs only; collect per-doc arrays (bounded by doc length)
    toks = q_tokenize_vocab(spark, args.input).join(survivors, "doc_id")
    arrays = (
        toks.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "token_id"))
            ).alias("s")
        )
        .select(
            "doc_id",
            F.transform("s", lambda x: x["token_id"].cast("int")).alias(
                "tokens"
            ),
        )
    )
    with_split = arrays.join(
        q_hash_split(spark, args.input).select("doc_id", "split"),
        "doc_id",
    ).persist()

    stats = {"docs_in": int(n_in), "splits": {}}
    n_survivors = 0
    for name in SPLITS:
        part = with_split.where(F.col("split") == name)
        packed = pack_tokens(
            part, tokens_col="tokens", order_col="doc_id",
            capacity=args.capacity,
        )
        seqs = (
            packed.groupBy("seq_id")
            .agg(
                F.sort_array(F.collect_list(F.struct("pos", "token"))).alias(
                    "s"
                )
            )
            .select(
                "seq_id",
                F.transform("s", lambda x: x["token"].cast("int")).alias(
                    "tokens"
                ),
            )
            .withColumn("n_tok", F.size("tokens").cast("int"))
        )
        out = os.path.join(args.output, f"split={name}")
        seqs.write.mode("overwrite").parquet(out)
        got = spark.read.parquet(out).agg(
            F.count(F.lit(1)).alias("seqs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).alias("tokens"),
        ).collect()[0]
        n_docs = part.count()
        n_survivors += n_docs
        stats["splits"][name] = {
            "docs": int(n_docs),
            "sequences": int(got["seqs"]),
            "tokens": int(got["tokens"]),
        }
    with_split.unpersist()
    stats["docs_kept"] = n_survivors
    stats["capacity"] = args.capacity
    stats["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
