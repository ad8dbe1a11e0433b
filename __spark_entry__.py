"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``tinybrain_spark.driver_contract``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tinybrain_spark import driver_contract as _dc  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the avg retention
    rollup (tiers 1+2) over event-derived token sequences."""
    sf_dir = "/root/testdata/sf0.001"
    from pyspark.sql import functions as F

    from tinybrain_spark.udfs import pool_tiers

    tt = _dc.token_table(spark, sf_dir).select("user_id", "tokens")
    pooled = pool_tiers("avg", window=4, num_tiers=2)(tt)
    tiers = pooled.select("user_id", F.posexplode("tiers").alias("tier0", "toks"))
    return tiers.select(
        F.col("user_id").cast("long").alias("user_id"),
        (F.col("tier0") + 1).cast("long").alias("tier"),
        F.posexplode("toks").alias("pos", "token"),
    ).select(
        "user_id",
        "tier",
        F.col("pos").cast("long").alias("pos"),
        F.col("token").cast("long").alias("token"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus the
    training-data pipeline ops). Columns are aliased identically to the
    oracles."""
    return _dc.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents. ``q_gorilla_roundtrip`` is
    intentionally absent (binary blob sizes are not SQL-expressible) —
    the driver records a rows-only check for it."""
    return _dc.oracle_sql()
