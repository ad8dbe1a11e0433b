"""Explicit partitioning + skew handling (SURVEY.md §4, north_rule
'partitioning / shuffle / skew handled explicitly').

Pooling itself is per-row and shuffle-free; shuffles exist only at
(a) output clustering before a partitioned write and (b) grouped
aggregations.  Both use range partitioning on (source, time_bucket) to
preserve time locality (delta-of-delta encoding wants bucket-sorted
runs), salted so one hot Zipf source cannot pin a whole executor.

The salt key is derived from doc_id, so whole rows move together and a
pooling window (which lives inside one row's array) is never split —
the constraint that keeps COUNTLESS's positional tie-break exact
(SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def with_salt(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "salt",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(DEFAULT_SALT_BUCKETS)).cast("int"),
    )


def cluster_for_write(
    df: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """repartitionByRange(source, time_bucket, salt).

    Range (not hash) keeps (source, time_bucket) runs contiguous for
    compression; the salt splits hot sources across partitions.  The
    caller sorts within partitions after any per-row work, in the
    order its writer needs.
    """
    salted = with_salt(df)
    cols = [F.col("source"), F.col("time_bucket"), F.col("salt")]
    if num_partitions:
        out = salted.repartitionByRange(num_partitions, *cols)
    else:
        out = salted.repartitionByRange(*cols)
    return out.drop("salt")
