"""r06r operators: Q7-topology bilateral trade, Q8-topology market
share, Q9-topology (minus supplycost) product-line revenue."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.tpch import (
    PROFIT_PART_MARK,
    SHARE_NATION,
    SHARE_PART_TYPE,
    SHARE_REGION,
    TRADE_NATION_A,
    TRADE_NATION_B,
    TRADE_YEAR_HI,
    TRADE_YEAR_LO,
    q_market_share,
    q_nation_trade,
    q_parttype_profit,
)

from .test_plans import SF_DIR, _plan

SF01_DIR = "/root/testdata/sf0.01"  # trade pair is empty at sf0.001


def _cents(x: pd.Series) -> pd.Series:
    return np.floor(x * 100).astype("int64")


def _rev_cp(li: pd.DataFrame) -> pd.Series:
    return _cents(li["l_extendedprice"]) * (
        100 - _cents(li["l_discount"])
    )


# ---------------------------------------------------------------------------
# q_nation_trade (Q7 topology)
# ---------------------------------------------------------------------------


def _literal_trade(sf_dir: str) -> pd.DataFrame:
    nat = pd.read_parquet(f"{sf_dir}/nation.parquet")
    nmap = dict(zip(nat["n_nationkey"], nat["n_name"]))
    sup = pd.read_parquet(f"{sf_dir}/supplier.parquet").assign(
        supp_nation=lambda d: d["s_nationkey"].map(nmap)
    )
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet").assign(
        cust_nation=lambda d: d["c_nationkey"].map(nmap)
    )
    pair = {TRADE_NATION_A, TRADE_NATION_B}
    sup = sup[sup["supp_nation"].isin(pair)]
    cust = cust[cust["cust_nation"].isin(pair)]
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    li = li[
        (li["l_shipdate"] >= pd.Timestamp(f"{TRADE_YEAR_LO}-01-01"))
        & (li["l_shipdate"] < pd.Timestamp(f"{TRADE_YEAR_HI + 1}-01-01"))
    ].assign(
        l_year=lambda d: d["l_shipdate"].dt.year.astype("int64"),
        rev_cp=_rev_cp,
    )
    j = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey")
        .merge(sup, left_on="l_suppkey", right_on="s_suppkey")
    )
    j = j[j["supp_nation"] != j["cust_nation"]]
    out = (
        j.groupby(["supp_nation", "cust_nation", "l_year"])
        .agg(n_lines=("rev_cp", "size"), revenue_cp=("rev_cp", "sum"))
        .reset_index()
    )
    out["n_lines"] = out["n_lines"].astype("int64")
    out["revenue_cp"] = out["revenue_cp"].astype("int64")
    return out.sort_values(
        ["supp_nation", "cust_nation", "l_year"]
    ).reset_index(drop=True)


def test_nation_trade_differential_vs_literal(spark):
    want = _literal_trade(SF01_DIR)
    assert len(want) > 0  # the fixture really exercises both directions
    got = (
        q_nation_trade(spark, SF01_DIR)
        .toPandas()
        .sort_values(["supp_nation", "cust_nation", "l_year"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_nation_trade_plan_broadcast_and_pushdown(spark):
    plan = _plan(q_nation_trade(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    # the ship-year window reaches the lineitem parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan, plan


# ---------------------------------------------------------------------------
# q_market_share (Q8 topology)
# ---------------------------------------------------------------------------


def _literal_share(sf_dir: str) -> pd.DataFrame:
    nat = pd.read_parquet(f"{sf_dir}/nation.parquet")
    reg = pd.read_parquet(f"{sf_dir}/region.parquet")
    rk = int(reg.loc[reg["r_name"] == SHARE_REGION, "r_regionkey"].iloc[0])
    region_nats = set(nat.loc[nat["n_regionkey"] == rk, "n_nationkey"])
    share_nk = int(
        nat.loc[nat["n_name"] == SHARE_NATION, "n_nationkey"].iloc[0]
    )
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet")
    cust = set(
        cust.loc[cust["c_nationkey"].isin(region_nats), "c_custkey"]
    )
    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    pk = set(part.loc[part["p_type"] == SHARE_PART_TYPE, "p_partkey"])
    sup = pd.read_parquet(f"{sf_dir}/supplier.parquet")
    nat_sup = set(sup.loc[sup["s_nationkey"] == share_nk, "s_suppkey"])
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    orders = orders[orders["o_custkey"].isin(cust)].assign(
        o_year=lambda d: d["o_orderdate"].dt.year.astype("int64")
    )
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    li = li[li["l_partkey"].isin(pk)].assign(rev_cp=_rev_cp)
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    j["nat_cp"] = np.where(
        j["l_suppkey"].isin(nat_sup), j["rev_cp"], 0
    )
    out = (
        j.groupby("o_year")
        .agg(total_cp=("rev_cp", "sum"), nation_cp=("nat_cp", "sum"))
        .reset_index()
    )
    out["total_cp"] = out["total_cp"].astype("int64")
    out["nation_cp"] = out["nation_cp"].astype("int64")
    out["share_permille"] = (
        out["nation_cp"] * 1000 // out["total_cp"]
    ).astype("int64")
    return out.sort_values("o_year").reset_index(drop=True)


def test_market_share_differential_vs_literal(spark):
    want = _literal_share(SF_DIR)
    assert (want["nation_cp"] > 0).any()  # the share is non-degenerate
    got = (
        q_market_share(spark, SF_DIR)
        .toPandas()
        .sort_values("o_year")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_market_share_plan_semi_join_narrow_probe(spark):
    plan = _plan(q_market_share(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "LeftSemi" in tree, tree  # region filter rides a semi join
    assert "BroadcastHashJoin" in tree, tree


# ---------------------------------------------------------------------------
# q_parttype_profit (Q9 topology)
# ---------------------------------------------------------------------------


def _literal_profit(sf_dir: str) -> pd.DataFrame:
    nat = pd.read_parquet(f"{sf_dir}/nation.parquet")
    nmap = dict(zip(nat["n_nationkey"], nat["n_name"]))
    sup = pd.read_parquet(f"{sf_dir}/supplier.parquet").assign(
        nation=lambda d: d["s_nationkey"].map(nmap)
    )
    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    pk = set(
        part.loc[
            part["p_name"].str.contains(PROFIT_PART_MARK), "p_partkey"
        ]
    )
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet").assign(
        o_year=lambda d: d["o_orderdate"].dt.year.astype("int64")
    )
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    li = li[li["l_partkey"].isin(pk)].assign(rev_cp=_rev_cp)
    j = li.merge(
        sup[["s_suppkey", "nation"]],
        left_on="l_suppkey",
        right_on="s_suppkey",
    ).merge(
        orders[["o_orderkey", "o_year"]],
        left_on="l_orderkey",
        right_on="o_orderkey",
    )
    out = (
        j.groupby(["nation", "o_year"])
        .agg(n_lines=("rev_cp", "size"), revenue_cp=("rev_cp", "sum"))
        .reset_index()
    )
    out["n_lines"] = out["n_lines"].astype("int64")
    out["revenue_cp"] = out["revenue_cp"].astype("int64")
    return out.sort_values(["nation", "o_year"]).reset_index(drop=True)


def test_parttype_profit_differential_vs_literal(spark):
    want = _literal_profit(SF_DIR)
    assert len(want) > 0
    got = (
        q_parttype_profit(spark, SF_DIR)
        .toPandas()
        .sort_values(["nation", "o_year"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_parttype_profit_plan_broadcast_dims(spark):
    plan = _plan(q_parttype_profit(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    # exactly the fact-fact shuffle + final agg exchange family: the
    # broadcast dims never add an Exchange
    assert tree.count("Exchange") <= 5, tree
