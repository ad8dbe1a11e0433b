"""r06d operators: the first queries over the relational fixture
tables — Q1-style pricing summary, Q5-topology star join."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.tpch import (
    PRICING_CUTOFF,
    q_pricing_summary,
    q_region_revenue,
)

from .test_plans import SF_DIR, _plan


def _cents(x: pd.Series) -> pd.Series:
    return np.floor(x * 100).astype("int64")


# ---------------------------------------------------------------------------
# q_pricing_summary
# ---------------------------------------------------------------------------


def _literal_pricing() -> pd.DataFrame:
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li = li[li["l_shipdate"] <= pd.Timestamp(PRICING_CUTOFF)]
    t = pd.DataFrame(
        {
            "l_returnflag": li["l_returnflag"],
            "l_linestatus": li["l_linestatus"],
            "qty": np.floor(li["l_quantity"]).astype("int64"),
            "c": _cents(li["l_extendedprice"]),
            "d": _cents(li["l_discount"]),
            "t": _cents(li["l_tax"]),
        }
    )
    t["disc_cp"] = t["c"] * (100 - t["d"])
    t["charge_cp2"] = t["disc_cp"] * (100 + t["t"])
    g = t.groupby(["l_returnflag", "l_linestatus"], as_index=False).agg(
        count_order=("qty", "size"),
        sum_qty=("qty", "sum"),
        sum_base_c=("c", "sum"),
        sum_disc_cp=("disc_cp", "sum"),
        sum_charge_cp2=("charge_cp2", "sum"),
        _sd=("d", "sum"),
    )
    g["avg_qty"] = g["sum_qty"] // g["count_order"]
    g["avg_price_c"] = g["sum_base_c"] // g["count_order"]
    g["avg_disc_pct"] = g["_sd"] // g["count_order"]
    return (
        g.drop(columns="_sd")
        .sort_values(["l_returnflag", "l_linestatus"])
        .reset_index(drop=True)
    )


def test_pricing_differential_vs_literal(spark):
    want = _literal_pricing()
    got = (
        q_pricing_summary(spark, SF_DIR)
        .toPandas()
        .sort_values(["l_returnflag", "l_linestatus"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_pricing_plan_pushdown_one_exchange(spark):
    plan = _plan(q_pricing_summary(spark, SF_DIR))
    # the cutoff predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan
    # one map-side-combinable groupBy: partial agg below the exchange
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    # the scan reads only the 6 needed columns, not all 11
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read, read


# ---------------------------------------------------------------------------
# q_region_revenue
# ---------------------------------------------------------------------------


def _literal_region_revenue() -> pd.DataFrame:
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    sup = pd.read_parquet(f"{SF_DIR}/supplier.parquet")
    nat = pd.read_parquet(f"{SF_DIR}/nation.parquet")
    reg = pd.read_parquet(f"{SF_DIR}/region.parquet")
    li = li.assign(
        rev_cp=_cents(li["l_extendedprice"]) * (100 - _cents(li["l_discount"]))
    )
    j = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey")
        .merge(sup, left_on="l_suppkey", right_on="s_suppkey")
    )
    j = j[j["c_nationkey"] == j["s_nationkey"]]
    j = j.merge(nat, left_on="c_nationkey", right_on="n_nationkey").merge(
        reg, left_on="n_regionkey", right_on="r_regionkey"
    )
    j["o_year"] = j["o_orderdate"].dt.year.astype("int64")
    return (
        j.groupby(["r_name", "o_year"], as_index=False)
        .agg(n_lines=("rev_cp", "size"), revenue_cp=("rev_cp", "sum"))
        .sort_values(["r_name", "o_year"])
        .reset_index(drop=True)
    )


def test_region_revenue_differential_vs_literal(spark):
    want = _literal_region_revenue()
    got = (
        q_region_revenue(spark, SF_DIR)
        .toPandas()
        .sort_values(["r_name", "o_year"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_region_revenue_plan_broadcast_dims(spark):
    plan = _plan(q_region_revenue(spark, SF_DIR))
    # dimension tables broadcast (region+nation fold into the customer
    # side; supplier broadcasts into the fact chain) — and the
    # same-nation predicate rides a join condition, never a cartesian
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
    # column pruning reaches the widest fact scan
    read = [l for l in plan.splitlines()
            if "ReadSchema" in l and "l_extendedprice" in l][0]
    assert "l_comment" not in read and "l_quantity" not in read, read
