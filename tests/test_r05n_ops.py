"""r05n operators: Fano-factor burstiness, trailing-baseline burst
detection, one-pass column profiling, binary-segmentation changepoint.

Value-level correctness is pinned by the DuckDB oracle gate
(tools/check_oracle.py — all four have oracle_sql entries); these tests
pin the semantics differentially vs literal numpy/pandas recomputes of
the same definitions, plus the physical-plan scale shapes (partitioned
windows only; the profile reads its table ONCE)."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.signals import (
    BURST_MIN_PREV,
    BURST_X,
    CHG_MIN_HOURS,
    q_burst_hours,
    q_changepoint,
    q_fano_factor,
)
from tinybrain_spark.driver_contract.warehouse import q_column_profile

from .test_plans import SF_DIR, assert_no_unpartitioned_windows

SF01 = "/root/testdata/sf0.01"


def _hourly_pd(sf_dir: str) -> pd.DataFrame:
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    tb = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9 // 3600
    ).astype("int64")
    g = (
        pd.DataFrame({"source": ev["event_type"], "tb": tb})
        .groupby(["source", "tb"])
        .size()
        .rename("n")
        .reset_index()
    )
    return g.sort_values(["source", "tb"], ignore_index=True)


# ---------------------------------------------------------------------------
# q_fano_factor
# ---------------------------------------------------------------------------


def test_fano_differential_vs_literal(spark):
    hourly = _hourly_pd(SF_DIR)
    got = {r["source"]: r.asDict() for r in q_fano_factor(spark, SF_DIR).collect()}
    for source, grp in hourly.groupby("source"):
        n = grp["n"].to_numpy(dtype=np.int64)
        nh, s1, s2 = len(n), int(n.sum()), int((n * n).sum())
        num, den = nh * s2 - s1 * s1, nh * s1
        fano_milli = (num // den) * 1000 + ((num % den) * 1000) // den
        r = got[source]
        assert r["n_hours"] == nh
        assert r["mean_milli"] == (s1 * 1000) // nh
        assert r["fano_milli"] == fano_milli, source


def test_fano_constant_series_is_zero(spark):
    df = spark.createDataFrame(
        [("s", h, 5) for h in range(20)], "source string, tb long, n long"
    )
    # drive the arithmetic directly on a constant-count series
    from pyspark.sql import functions as F

    g = df.groupBy("source").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    row = g.select(
        (
            (F.col("n_hours") * F.col("s2") - F.col("s1") * F.col("s1"))
        ).alias("num")
    ).collect()[0]
    assert row["num"] == 0  # variance numerator: constant series


# ---------------------------------------------------------------------------
# q_burst_hours
# ---------------------------------------------------------------------------


def test_burst_differential_vs_pandas_rolling(spark):
    hourly = _hourly_pd(SF01)
    expect = set()
    for source, grp in hourly.groupby("source"):
        n = grp["n"].to_numpy(dtype=np.int64)
        tbs = grp["tb"].to_numpy(dtype=np.int64)
        for i in range(len(n)):
            lo = max(0, i - 24)
            prev = n[lo:i]
            if len(prev) >= BURST_MIN_PREV and n[i] * len(prev) > BURST_X * int(
                prev.sum()
            ):
                expect.add((source, int(tbs[i]), int(n[i])))
    got = {
        (r["source"], r["tb"], r["n"])
        for r in q_burst_hours(spark, SF01).collect()
    }
    assert got == expect and len(got) > 0


def test_burst_plan_windows_partitioned(spark):
    assert_no_unpartitioned_windows(q_burst_hours(spark, SF_DIR))


# ---------------------------------------------------------------------------
# q_column_profile
# ---------------------------------------------------------------------------


def test_profile_differential_vs_pandas(spark):
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    got = {
        r["column_name"]: r.asDict()
        for r in q_column_profile(spark, SF_DIR).collect()
    }
    assert set(got) == {"text", "lang", "source"}
    for c in got:
        col = docs[c]
        r = got[c]
        assert r["n_rows"] == len(docs)
        assert r["n_null"] == int(col.isna().sum())
        assert r["n_distinct"] == col.dropna().nunique()
        lens = col.dropna().str.len()
        assert r["min_len"] == int(lens.min())
        assert r["max_len"] == int(lens.max())


def test_profile_scans_documents_once(spark):
    """The fifteen aggregates come from ONE pass (multi-DISTINCT via
    Expand) — a UNION-of-scans shape would print three parquet scans."""
    plan = (
        q_column_profile(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan


# ---------------------------------------------------------------------------
# q_changepoint
# ---------------------------------------------------------------------------


def test_changepoint_differential_vs_numpy(spark):
    hourly = _hourly_pd(SF01)
    got = {
        r["source"]: r.asDict() for r in q_changepoint(spark, SF01).collect()
    }
    for source, grp in hourly.groupby("source"):
        n = grp["n"].to_numpy(dtype=np.int64)
        tbs = grp["tb"].to_numpy(dtype=np.int64)
        nn, s = len(n), int(n.sum())
        if nn < CHG_MIN_HOURS:
            assert source not in got
            continue
        cum = np.cumsum(n)
        best = None
        for k in range(1, nn):
            diff = int(cum[k - 1]) * (nn - k) - (s - int(cum[k - 1])) * k
            den = k * (nn - k)
            gain = float(diff) * float(diff) / float(den)
            # ties break toward the EARLIEST split, like the query
            if best is None or gain > best[0]:
                best = (gain, k, diff, den)
        _, k, diff, den = best
        r = got[source]
        assert r["n_hours"] == nn
        assert r["left_hours"] == k and r["right_hours"] == nn - k
        assert r["split_tb"] == int(tbs[k - 1])
        assert r["diff_abs"] == abs(diff) and r["den"] == den


def test_changepoint_detects_planted_level_shift(spark):
    """A hand-planted step (10,10,...,10, 50,50,...,50) must split at
    the step boundary."""
    rows = [("s", h, 10) for h in range(12)] + [("s", 12 + h, 50) for h in range(12)]
    df = spark.createDataFrame(rows, "source string, tb long, n long")
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    wo = Window.partitionBy("source").orderBy("tb")
    wp = Window.partitionBy("source")
    st = df.select(
        "source",
        "tb",
        F.row_number().over(wo).cast("long").alias("rn"),
        F.sum("n")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum"),
        F.count("*").over(wp).cast("long").alias("nn"),
        F.sum("n").over(wp).cast("long").alias("s"),
    )
    cand = st.where(F.col("rn") < F.col("nn")).select(
        "tb",
        "rn",
        (
            F.col("cum") * (F.col("nn") - F.col("rn"))
            - (F.col("s") - F.col("cum")) * F.col("rn")
        ).alias("diff"),
        (F.col("rn") * (F.col("nn") - F.col("rn"))).alias("den"),
    )
    gain = (
        F.col("diff").cast("double") * F.col("diff").cast("double")
        / F.col("den").cast("double")
    )
    top = cand.orderBy(gain.desc(), F.col("rn").asc()).limit(1).collect()[0]
    assert top["rn"] == 12 and top["tb"] == 11


def test_changepoint_plan_windows_partitioned(spark):
    # the ASC/DESC-aware variant: q_changepoint carries partition-only
    # windows (count/sum OVER (PARTITION BY source)), which print two
    # bracket groups like an unpartitioned ordered window does
    from .test_r05m_ops import _no_unpartitioned_windows

    _no_unpartitioned_windows(q_changepoint(spark, SF_DIR))
