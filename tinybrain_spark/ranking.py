"""Scalable global rank — dense total-order position without a
one-task window.

``Window.orderBy(...)`` with no partition key funnels every row into a
single task (the q_topk_users lesson).  For full rankings (vocabulary
ids, leaderboards) where top-k doesn't apply, the scalable shape is:

1. ``repartitionByRange`` on the order columns — equal keys co-locate,
   partitions hold contiguous key ranges in order — then
   ``session.pin`` to PIN the sampled boundaries: the counts
   subtree and the rank subtree would otherwise evaluate the range
   exchange twice, and a nondeterministic upstream (sample, prior
   shuffle-dependent order) could sample different boundaries per
   evaluation and silently misalign the offsets (round-3 ADVICE);
2. count rows per partition and cumulate the <= n_partitions counts on
   the DRIVER (bounded by a config constant, like a broadcast build
   side — no window at all, so no unpartitioned WindowExec either);
3. broadcast the offsets back; rank = offset + row_number within the
   partition (bounded sort).

Ranks are independent of where the sampled range boundaries land, so
the result is deterministic even though the partitioning itself isn't.
The same two-level idea as prefix.running_sums, specialized to
ordering.  The pin materializes ``df`` once; for rank targets that's the vocabulary/leaderboard table,
orders of magnitude smaller than the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .session import pin


def global_rank(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``rank_col`` = 1-based position of each row in the total
    order ``order_by`` (which must be a total order — ties would make
    ranks nondeterministic; include a unique column last)."""
    parted = (
        df.repartitionByRange(num_partitions, *order_by)
        if num_partitions
        else df.repartitionByRange(*order_by)
    )
    parted = pin(parted)
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    counts = sorted(
        with_pid.groupBy("_pid").agg(F.count("*").alias("_n")).collect(),
        key=lambda r: r["_pid"],
    )
    off_rows, acc = [], 0
    for r in counts:
        off_rows.append((r["_pid"], acc))
        acc += r["_n"]
    offsets = df.sparkSession.createDataFrame(
        off_rows, "_pid int, _off long"
    )
    win = Window.partitionBy("_pid").orderBy(*order_by)
    return (
        with_pid.join(F.broadcast(offsets), "_pid")
        .withColumn(
            rank_col,
            (F.row_number().over(win) + F.col("_off")).cast("long"),
        )
        .drop("_pid", "_off")
    )
