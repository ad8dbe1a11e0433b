"""Distributed sequence packing (concatenate-and-chunk).

The last op of an LLM training-data pipeline: documents are
concatenated in a deterministic total order within each source stream
and the resulting token stream is cut into fixed-capacity training
sequences.  The assignment is pure integer arithmetic over an
EXCLUSIVE PREFIX SUM of per-document token counts — and that prefix
sum is the distributed hard part: a naive
``Window.partitionBy(source).orderBy(doc_id)`` funnels every row of a
source into ONE task for the sort (the q_topk_users mistake at 10^12
scale).

Scale shape here — a layered prefix sum with only bounded sorts:

1. bucket docs by contiguous order-key ranges
   (``order_col // bucket_size``) and groupBy-sum token counts per
   (source, bucket): a partial aggregation, output is
   ``n_docs / bucket_size`` rows;
2. run :func:`tinybrain_spark.prefix.running_sums` over that per-bucket
   table for each bucket's starting token offset — range-partitioned,
   so the bucket table itself is never sorted in one task either (the
   round-3 defect: a constant source key folded out of the bucket
   window's partition spec and planned an unpartitioned WindowExec over
   n/bucket_size rows);
3. join the bucket offsets back (plain join: AQE broadcasts the
   n/bucket_size-row table while it is small, and at corpus scale the
   sort-merge join shares the hash partitioning the within-bucket
   window needs anyway — never an unconditional broadcast of an
   unbounded table) and window WITHIN (source, bucket) — every sort is
   bounded by ``bucket_size`` rows.

Choose ``bucket_size`` ~ sqrt(max docs per source) to balance the two
levels; any value is CORRECT (bucket-size invariance is test-pinned),
the choice only moves rows between the bounded within-bucket sorts and
the range-partitioned bucket table.

No reference analog: tinybrain has no packing; this is engine surface
for the token-pipeline addendum (SURVEY.md training-data ops).  The
semantics (concat in doc order, split at capacity boundaries, a doc
may span sequences) are the GPT-style packing used for causal-LM
pretraining; ``n_spans`` counts how many sequences a doc crosses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .prefix import running_sums
from .session import pin


def pack_offsets(
    docs: DataFrame,
    *,
    n_col: str = "n_tok",
    order_col: str = "doc_id",
    source_col: str | None = "source",
    capacity: int = 2048,
    bucket_size: int = 4096,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each document its global token offset and sequence span.

    Adds to ``docs`` (all BIGINT, exact integer arithmetic — safe under
    ANSI mode and byte-identical to the DuckDB oracle):

    - ``tok_start``  — exclusive prefix sum of ``n_col`` over
      ``order_col`` within ``source_col`` (the doc's first token's
      global position in its source stream);
    - ``seq_id``     — ``tok_start DIV capacity``: the training
      sequence the doc starts in;
    - ``seq_offset`` — ``tok_start % capacity``: position within it;
    - ``n_spans``    — number of distinct sequences the doc touches
      (0 for an empty doc).

    ``source_col=None`` packs a SINGLE global stream: the bucket
    offsets then come from prefix.running_sums' driver-side cumsum of
    per-range-partition totals (bounded by the partition count, a
    config constant) instead of a per-source window — a constant
    source key would be folded out of a window's partition spec by
    Catalyst and plan the very one-task funnel this module exists to
    avoid.  Every window in either path carries a non-empty partition
    spec and a bounded sort (pinned in test_packing/test_plans).
    """
    parts = [source_col] if source_col else []
    bucket = F.expr(f"{order_col} DIV {bucket_size}")
    with_b = docs.withColumn("_bucket", bucket)

    per_bucket = with_b.groupBy(*parts, "_bucket").agg(
        F.sum(n_col).cast("long").alias("_btok")
    )
    b_off = running_sums(
        per_bucket,
        ["_btok"],
        ["_bucket"],
        partition_cols=parts,
        num_partitions=num_partitions,
    ).select(
        *parts,
        "_bucket",
        (F.col("rs__btok") - F.col("_btok")).cast("long").alias("_bstart"),
    )

    wd = Window.partitionBy(*parts, "_bucket").orderBy(order_col)
    joined = with_b.join(b_off, [*parts, "_bucket"])
    out = joined.withColumn(
        "tok_start",
        (
            F.col("_bstart")
            + F.sum(n_col).over(wd)
            - F.col(n_col)
        ).cast("long"),
    ).drop("_bucket", "_bstart")

    n = F.col(n_col).cast("long")
    start = F.col("tok_start")
    seq_id = F.expr(f"tok_start DIV {capacity}")
    return (
        out.withColumn("seq_id", seq_id.cast("long"))
        .withColumn("seq_offset", (start % capacity).cast("long"))
        .withColumn(
            "n_spans",
            F.when(n <= 0, F.lit(0))
            .otherwise(
                F.expr(f"(tok_start + {n_col} - 1) DIV {capacity}")
                - seq_id
                + 1
            )
            .cast("long"),
        )
    )


def pack_tokens(
    seqs: DataFrame,
    *,
    tokens_col: str = "tokens",
    order_col: str = "user_id",
    capacity: int = 2048,
    bucket_size: int = 4096,
) -> DataFrame:
    """Materialize packed training sequences from per-key token arrays.

    ``seqs`` is (order_col, tokens_col: array<int>); streams are
    concatenated in ``order_col`` order and re-cut at ``capacity``
    boundaries.  Returns exploded rows
    (``seq_id``, ``pos``, ``token``) — one row per token, relabeled to
    its packed sequence — so the result is hash-comparable against a
    pure-SQL oracle.  Callers that want the packed arrays themselves
    group this by ``seq_id`` and ``array_agg`` (same single exchange).

    The offset assignment reuses :func:`pack_offsets` in single-stream
    mode (``source_col=None`` — a constant literal source key would be
    constant-folded out of the window partition spec, the round-3
    unpartitioned-WindowExec defect); every window is partitioned and
    bounded, and the explode is map-side.
    """
    # r06: pin the sequence table once — pack_offsets consumes it
    # three times (the per-bucket aggregate, the range partitioner's
    # sampling pass over that aggregate, and the offsets join), and
    # without the checkpoint each consumer re-runs the caller's whole
    # sequence-assembly pipeline (scan + window + collect_list at
    # q_pack_tokens; 22 MB materialized vs two extra full passes —
    # same trade the iterative queries already make per CLAUDE.md)
    with_n = pin(seqs.withColumn(
        "_n", F.size(tokens_col).cast("long")
    ))
    off = pack_offsets(
        with_n,
        n_col="_n",
        order_col=order_col,
        source_col=None,
        capacity=capacity,
        bucket_size=bucket_size,
    )
    pos = F.col("tok_start") + F.col("_pos")
    return off.select(
        "tok_start", F.posexplode(tokens_col).alias("_pos", "_tok")
    ).select(
        F.expr(f"(tok_start + _pos) DIV {capacity}").cast("long").alias("seq_id"),
        (pos % capacity).cast("long").alias("pos"),
        F.col("_tok").cast("long").alias("token"),
    )
