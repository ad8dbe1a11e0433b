"""r06e/r06f operators: TPC-H-topology relational queries — Q3 top-k,
Q13 outer-join distribution, Q18 having-join-back, Q14 promo share,
Q10 returned-revenue top-k, Q19 bracket filter."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.tpch import (
    BIG_ORDER_MIN_QTY,
    BRACKETS,
    ORDER_DIST_END,
    ORDER_DIST_PRIORITY,
    ORDER_DIST_START,
    PROMO_PART_TYPE,
    RETURNED_REV_END,
    RETURNED_REV_START,
    SHIP_PRIORITY_CUTOFF,
    SHIP_PRIORITY_SEGMENT,
    q_big_orders,
    q_bracket_revenue,
    q_forecast_revenue,
    q_order_count_dist,
    q_promo_share,
    q_returned_revenue,
    q_ship_priority,
)

from .test_plans import SF_DIR, _plan


def _cents(x: pd.Series) -> pd.Series:
    return np.floor(x * 100).astype("int64")


def _rev_cp(li: pd.DataFrame) -> pd.Series:
    return _cents(li["l_extendedprice"]) * (100 - _cents(li["l_discount"]))


def _epoch_day(ts: pd.Series) -> pd.Series:
    # fixture timestamps are datetime64[us]; normalize to seconds first
    return (ts.astype("datetime64[s]").astype("int64") // 86400).astype(
        "int64"
    )


# ---------------------------------------------------------------------------
# q_ship_priority (Q3 topology)
# ---------------------------------------------------------------------------


def _literal_ship_priority() -> pd.DataFrame:
    cut = pd.Timestamp(SHIP_PRIORITY_CUTOFF)
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    keys = set(
        cust.loc[cust["c_mktsegment"] == SHIP_PRIORITY_SEGMENT, "c_custkey"]
    )
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    orders = orders[
        (orders["o_orderdate"] < cut) & orders["o_custkey"].isin(keys)
    ]
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li = li[li["l_shipdate"] > cut].assign(rev_cp=_rev_cp)
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    j["o_day"] = _epoch_day(j["o_orderdate"])
    g = j.groupby(
        ["o_orderkey", "o_day", "o_orderpriority"], as_index=False
    ).agg(revenue_cp=("rev_cp", "sum"))
    return (
        g.sort_values(
            ["revenue_cp", "o_orderkey"], ascending=[False, True]
        )
        .head(10)
        .reset_index(drop=True)
    )


def test_ship_priority_differential_vs_literal(spark):
    want = _literal_ship_priority()
    got = q_ship_priority(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_ship_priority_plan_semi_join_takeordered(spark):
    plan = _plan(q_ship_priority(spark, SF_DIR))
    # top-k never materializes a global sort
    assert "TakeOrderedAndProject" in plan, plan
    # the segment filter feeds a LEFT SEMI join (no customer column out)
    assert "LeftSemi" in plan, plan
    # date predicates reach both fact scans
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan, plan


# ---------------------------------------------------------------------------
# q_order_count_dist (Q13 topology)
# ---------------------------------------------------------------------------


def _literal_order_count_dist() -> pd.DataFrame:
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    sel = orders[
        (orders["o_orderpriority"] == ORDER_DIST_PRIORITY)
        & (orders["o_orderdate"] >= pd.Timestamp(ORDER_DIST_START))
        & (orders["o_orderdate"] < pd.Timestamp(ORDER_DIST_END))
    ]
    oc = sel.groupby("o_custkey").size()
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    counts = cust["c_custkey"].map(oc).fillna(0).astype("int64")
    g = counts.value_counts().sort_index()
    return pd.DataFrame(
        {"c_count": g.index.astype("int64"), "custdist": g.values}
    ).reset_index(drop=True)


def test_order_count_dist_differential_vs_literal(spark):
    want = _literal_order_count_dist()
    got = (
        q_order_count_dist(spark, SF_DIR)
        .toPandas()
        .sort_values("c_count")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_order_count_dist_zero_customers_present(spark):
    got = q_order_count_dist(spark, SF_DIR).toPandas()
    # the LEFT join keeps customers with no qualifying order
    assert (got["c_count"] == 0).any()
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    assert got["custdist"].sum() == len(cust)


def test_order_count_dist_plan_aggregate_below_join(spark):
    plan = _plan(q_order_count_dist(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    # the join keeps zero-order customers
    assert "LeftOuter" in tree, tree
    # the per-custkey count collapses BELOW the outer join: the join's
    # build/right side is an aggregate, never raw orders (the exchange
    # feeding the join carries (custkey, n) pairs)
    lines = tree.splitlines()
    (join_i,) = [i for i, l in enumerate(lines) if "Join" in l]
    assert any("HashAggregate" in l for l in lines[join_i + 1:]), tree
    # orders scan reads only the three needed columns
    read = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "o_custkey" in l
    ][0]
    assert "o_totalprice" not in read and "o_orderstatus" not in read, read


# ---------------------------------------------------------------------------
# q_big_orders (Q18 topology)
# ---------------------------------------------------------------------------


def _literal_big_orders() -> pd.DataFrame:
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    s = (
        li.assign(qty=np.floor(li["l_quantity"]).astype("int64"))
        .groupby("l_orderkey", as_index=False)
        .agg(sum_qty=("qty", "sum"))
    )
    s = s[s["sum_qty"] > BIG_ORDER_MIN_QTY]
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    j = s.merge(orders, left_on="l_orderkey", right_on="o_orderkey").merge(
        cust, left_on="o_custkey", right_on="c_custkey"
    )
    out = pd.DataFrame(
        {
            "c_name": j["c_name"],
            "c_custkey": j["c_custkey"].astype("int64"),
            "o_orderkey": j["o_orderkey"].astype("int64"),
            "o_day": _epoch_day(j["o_orderdate"]),
            "total_c": _cents(j["o_totalprice"]),
            "sum_qty": j["sum_qty"].astype("int64"),
        }
    )
    return out.sort_values("o_orderkey").reset_index(drop=True)


def test_big_orders_differential_vs_literal(spark):
    want = _literal_big_orders()
    got = (
        q_big_orders(spark, SF_DIR)
        .toPandas()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    assert len(got) > 0  # threshold not vacuous at sf0.001
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_big_orders_plan_having_below_joins(spark):
    plan = _plan(q_big_orders(spark, SF_DIR))
    # the HAVING filter sits on the aggregate output, before any join
    assert f"> {BIG_ORDER_MIN_QTY}" in plan, plan
    # lineitem scan reads only orderkey + quantity
    read = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "l_quantity" in l
    ][0]
    assert "l_extendedprice" not in read, read


# ---------------------------------------------------------------------------
# q_promo_share (Q14 topology)
# ---------------------------------------------------------------------------


def _literal_promo_share() -> pd.DataFrame:
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    part = pd.read_parquet(f"{SF_DIR}/part.parquet")
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    j["rev_cp"] = _rev_cp(j)
    j["promo"] = np.where(j["p_type"] == PROMO_PART_TYPE, j["rev_cp"], 0)
    j["ship_month"] = (
        j["l_shipdate"].dt.strftime("%Y%m").astype("int64")
    )
    g = j.groupby("ship_month", as_index=False).agg(
        promo_rev_cp=("promo", "sum"), total_rev_cp=("rev_cp", "sum")
    )
    g["promo_permille"] = g["promo_rev_cp"] * 1000 // g["total_rev_cp"]
    return g.sort_values("ship_month").reset_index(drop=True)


def test_promo_share_differential_vs_literal(spark):
    want = _literal_promo_share()
    got = (
        q_promo_share(spark, SF_DIR)
        .toPandas()
        .sort_values("ship_month")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_promo_share_plan_broadcast_one_exchange(spark):
    plan = _plan(q_promo_share(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    # the only hash exchange is the month groupBy
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    # part scan projects down to (partkey, type)
    read = [
        l for l in plan.splitlines() if "ReadSchema" in l and "p_type" in l
    ][0]
    assert "p_retailprice" not in read and "p_name" not in read, read


# ---------------------------------------------------------------------------
# q_returned_revenue (Q10 topology)
# ---------------------------------------------------------------------------


def _literal_returned_revenue() -> pd.DataFrame:
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    orders = orders[
        (orders["o_orderdate"] >= pd.Timestamp(RETURNED_REV_START))
        & (orders["o_orderdate"] < pd.Timestamp(RETURNED_REV_END))
    ]
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li = li[li["l_returnflag"] == "R"].assign(rev_cp=_rev_cp)
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    g = j.groupby("o_custkey", as_index=False).agg(
        n_returned_lines=("rev_cp", "size"), lost_rev_cp=("rev_cp", "sum")
    )
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    nat = pd.read_parquet(f"{SF_DIR}/nation.parquet")
    g = g.merge(cust, left_on="o_custkey", right_on="c_custkey").merge(
        nat, left_on="c_nationkey", right_on="n_nationkey"
    )
    out = pd.DataFrame(
        {
            "c_custkey": g["c_custkey"].astype("int64"),
            "c_name": g["c_name"],
            "n_name": g["n_name"],
            "n_returned_lines": g["n_returned_lines"].astype("int64"),
            "lost_rev_cp": g["lost_rev_cp"].astype("int64"),
        }
    )
    return (
        out.sort_values(
            ["lost_rev_cp", "c_custkey"], ascending=[False, True]
        )
        .head(20)
        .reset_index(drop=True)
    )


def test_returned_revenue_differential_vs_literal(spark):
    want = _literal_returned_revenue()
    got = q_returned_revenue(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_returned_revenue_plan_agg_before_customer_join(spark):
    plan = _plan(q_returned_revenue(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    # returnflag predicate reaches the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan, plan
    # customer columns never enter the per-custkey aggregate: the agg's
    # grouping key is o_custkey (aggregate-then-decorate)
    tree = plan.split("\n\n")[0]
    agg_pos = tree.find("HashAggregate")
    assert "c_name" not in tree[:agg_pos], tree[:agg_pos]


# ---------------------------------------------------------------------------
# q_bracket_revenue (Q19 topology)
# ---------------------------------------------------------------------------


def _literal_bracket_revenue() -> pd.DataFrame:
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    part = pd.read_parquet(f"{SF_DIR}/part.parquet")
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    j["qty"] = np.floor(j["l_quantity"]).astype("int64")
    m = np.zeros(len(j), dtype=bool)
    for brand, max_size, lo, hi in BRACKETS:
        m |= (
            (j["p_brand"] == brand)
            & (j["p_size"] >= 1)
            & (j["p_size"] <= max_size)
            & (j["qty"] >= lo)
            & (j["qty"] <= hi)
        )
    sel = j[m]
    return pd.DataFrame(
        {
            "n_lines": [np.int64(len(sel))],
            "revenue_cp": [_rev_cp(sel).sum().astype("int64")
                           if len(sel) else np.int64(0)],
        }
    )


def test_bracket_revenue_differential_vs_literal(spark):
    want = _literal_bracket_revenue()
    got = q_bracket_revenue(spark, SF_DIR).toPandas()
    assert int(got["n_lines"].iloc[0]) > 0  # brackets not vacuous
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_bracket_revenue_plan_broadcast_filtered_part(spark):
    plan = _plan(q_bracket_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    # the brand/size half of the brackets filters part BELOW the join
    read = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "p_brand" in l
    ][0]
    assert "p_name" not in read, read
    # lineitem ships only the 4 needed columns
    liread = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "l_quantity" in l
    ][0]
    assert "l_shipdate" not in liread and "l_tax" not in liread, liread


# ---------------------------------------------------------------------------
# q_forecast_revenue (Q6 topology, r06o)
# ---------------------------------------------------------------------------


def test_forecast_revenue_differential_vs_literal(spark):
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    sel = li[
        (li["l_shipdate"] >= pd.Timestamp("1999-01-01"))
        & (li["l_shipdate"] < pd.Timestamp("2000-01-01"))
        & (li["l_discount"] >= 0.05)
        & (li["l_discount"] <= 0.07)
        & (li["l_quantity"] < 24)
    ]
    delta = int((_cents(sel["l_extendedprice"]) * _cents(sel["l_discount"])).sum()) if len(sel) else 0
    got = q_forecast_revenue(spark, SF_DIR).toPandas()
    assert int(got["n_lines"].iloc[0]) == len(sel) and len(sel) > 0
    assert int(got["revenue_delta_cpct"].iloc[0]) == delta


def test_forecast_revenue_plan_full_pushdown(spark):
    plan = _plan(q_forecast_revenue(spark, SF_DIR))
    # every predicate reaches the parquet scan
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in plan, (frag, plan)
    # only the needed columns are read
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_tax" not in read, read
