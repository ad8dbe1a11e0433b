"""r06g operators: Q17-topology decorrelated scalar subquery, Q15
max-with-ties, Q22-topology anti join + scalar average."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.tpch import (
    IDLE_SINCE,
    SMALL_QTY_BRAND,
    TOP_SUPPLIER_END,
    TOP_SUPPLIER_START,
    q_idle_rich_customers,
    q_small_qty_revenue,
    q_top_supplier,
)

from .test_plans import SF_DIR, _plan


def _cents(x: pd.Series) -> pd.Series:
    return np.floor(x * 100).astype("int64")


# ---------------------------------------------------------------------------
# q_small_qty_revenue (Q17 topology)
# ---------------------------------------------------------------------------


def _literal_small_qty() -> pd.DataFrame:
    part = pd.read_parquet(f"{SF_DIR}/part.parquet")
    keys = set(part.loc[part["p_brand"] == SMALL_QTY_BRAND, "p_partkey"])
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li = li[li["l_partkey"].isin(keys)].assign(
        qty=lambda d: np.floor(d["l_quantity"]).astype("int64"),
        c=lambda d: _cents(d["l_extendedprice"]),
    )
    stats = li.groupby("l_partkey").agg(
        sum_qty=("qty", "sum"), n_lines=("qty", "size")
    )
    j = li.join(stats, on="l_partkey")
    sel = j[5 * j["qty"] * j["n_lines"] < j["sum_qty"]]
    rev = int(sel["c"].sum())
    return pd.DataFrame(
        {
            "n_small_lines": [np.int64(len(sel))],
            "revenue_c": [np.int64(rev)],
            "avg_yearly_c": [np.int64(rev // 7)],
        }
    )


def test_small_qty_differential_vs_literal(spark):
    want = _literal_small_qty()
    got = q_small_qty_revenue(spark, SF_DIR).toPandas()
    assert int(got["n_small_lines"].iloc[0]) > 0  # not vacuous
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_small_qty_plan_brand_prunes_both_sides(spark):
    plan = _plan(q_small_qty_revenue(spark, SF_DIR))
    # part filters on brand below a broadcast join
    assert "EqualTo(p_brand," in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the integer cross-multiplied threshold (Catalyst reassociates it
    # to ((qty * n_lines) * 5) < sum_qty and rides it on the join
    # condition) — never a float division
    assert "* 5) < sum_qty" in plan, plan


# ---------------------------------------------------------------------------
# q_top_supplier (Q15 topology)
# ---------------------------------------------------------------------------


def _literal_top_supplier() -> pd.DataFrame:
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li = li[
        (li["l_shipdate"] >= pd.Timestamp(TOP_SUPPLIER_START))
        & (li["l_shipdate"] < pd.Timestamp(TOP_SUPPLIER_END))
    ]
    li = li.assign(
        rev_cp=_cents(li["l_extendedprice"])
        * (100 - _cents(li["l_discount"]))
    )
    per = li.groupby("l_suppkey", as_index=False).agg(
        total_rev_cp=("rev_cp", "sum")
    )
    top = per[per["total_rev_cp"] == per["total_rev_cp"].max()]
    sup = pd.read_parquet(f"{SF_DIR}/supplier.parquet")
    j = top.merge(sup, left_on="l_suppkey", right_on="s_suppkey")
    return pd.DataFrame(
        {
            "s_suppkey": j["s_suppkey"].astype("int64"),
            "s_name": j["s_name"],
            "s_nationkey": j["s_nationkey"].astype("int64"),
            "total_rev_cp": j["total_rev_cp"].astype("int64"),
        }
    ).sort_values("s_suppkey").reset_index(drop=True)


def test_top_supplier_differential_vs_literal(spark):
    want = _literal_top_supplier()
    got = (
        q_top_supplier(spark, SF_DIR)
        .toPandas()
        .sort_values("s_suppkey")
        .reset_index(drop=True)
    )
    assert len(got) >= 1
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_top_supplier_plan_no_window_broadcast_max(spark):
    plan = _plan(q_top_supplier(spark, SF_DIR))
    # the global max is a broadcast 1-row aggregate, never a window
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the quarter predicate reaches the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan


# ---------------------------------------------------------------------------
# q_idle_rich_customers (Q22 topology)
# ---------------------------------------------------------------------------


def _literal_idle_rich() -> pd.DataFrame:
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    cust = cust.assign(bal_c=_cents(cust["c_acctbal"]))
    n, s = len(cust), int(cust["bal_c"].sum())
    rich = cust[cust["bal_c"] * n > s]
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    recent = set(
        orders.loc[
            orders["o_orderdate"] >= pd.Timestamp(IDLE_SINCE), "o_custkey"
        ]
    )
    idle = rich[~rich["c_custkey"].isin(recent)]
    g = idle.groupby("c_nationkey", as_index=False).agg(
        n_idle_rich=("bal_c", "size"), total_bal_c=("bal_c", "sum")
    )
    return pd.DataFrame(
        {
            "c_nationkey": g["c_nationkey"].astype("int64"),
            "n_idle_rich": g["n_idle_rich"].astype("int64"),
            "total_bal_c": g["total_bal_c"].astype("int64"),
        }
    ).sort_values("c_nationkey").reset_index(drop=True)


def test_idle_rich_differential_vs_literal(spark):
    want = _literal_idle_rich()
    got = (
        q_idle_rich_customers(spark, SF_DIR)
        .toPandas()
        .sort_values("c_nationkey")
        .reset_index(drop=True)
    )
    assert len(got) >= 1
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_idle_rich_plan_anti_join_pruned_orders(spark):
    plan = _plan(q_idle_rich_customers(spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    # orders scan is date-pruned and reads only the custkey + date
    read = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "o_custkey" in l
    ][0]
    assert "o_totalprice" not in read and "o_orderpriority" not in read, read
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
