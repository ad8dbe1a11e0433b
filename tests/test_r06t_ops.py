"""r06t operators: Q2-topology cheapest-supplier correlated min,
Q20-topology dominant-supplier nested semi chain."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.tpch import (
    CHEAPEST_REGION,
    CHEAPEST_SIZE,
    DOMINANT_PART_MARK,
    q_cheapest_supplier,
    q_dominant_supplier,
)

from .test_plans import SF_DIR, _plan

SF01_DIR = "/root/testdata/sf0.01"


def _cents(x: pd.Series) -> pd.Series:
    return np.floor(x * 100).astype("int64")


# ---------------------------------------------------------------------------
# q_cheapest_supplier (Q2 topology)
# ---------------------------------------------------------------------------


def _literal_cheapest(sf_dir: str) -> pd.DataFrame:
    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    pk = set(part.loc[part["p_size"] == CHEAPEST_SIZE, "p_partkey"])
    nat = pd.read_parquet(f"{sf_dir}/nation.parquet")
    reg = pd.read_parquet(f"{sf_dir}/region.parquet")
    rk = int(
        reg.loc[reg["r_name"] == CHEAPEST_REGION, "r_regionkey"].iloc[0]
    )
    nmap = nat[nat["n_regionkey"] == rk].set_index("n_nationkey")[
        "n_name"
    ]
    sup = pd.read_parquet(f"{sf_dir}/supplier.parquet")
    sup = sup[sup["s_nationkey"].isin(nmap.index)].assign(
        nation=lambda d: d["s_nationkey"].map(nmap)
    )
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    li = li[li["l_partkey"].isin(pk)].merge(
        sup, left_on="l_suppkey", right_on="s_suppkey"
    )
    li["unit_price_c"] = _cents(li["l_extendedprice"]) // np.floor(
        li["l_quantity"]
    ).astype("int64")
    quotes = (
        li.groupby(["l_partkey", "l_suppkey", "s_name", "nation"])[
            "unit_price_c"
        ]
        .min()
        .reset_index()
    )
    mins = quotes.groupby("l_partkey")["unit_price_c"].transform("min")
    out = quotes[quotes["unit_price_c"] == mins].rename(
        columns={"l_partkey": "p_partkey", "l_suppkey": "s_suppkey"}
    )[["p_partkey", "s_suppkey", "s_name", "nation", "unit_price_c"]]
    for c in ("p_partkey", "s_suppkey", "unit_price_c"):
        out[c] = out[c].astype("int64")
    return out.sort_values(
        ["p_partkey", "s_suppkey"]
    ).reset_index(drop=True)


def test_cheapest_supplier_differential_vs_literal(spark):
    for sf_dir in (SF_DIR, SF01_DIR):
        want = _literal_cheapest(sf_dir)
        assert len(want) > 0
        got = (
            q_cheapest_supplier(spark, sf_dir)
            .toPandas()
            .sort_values(["p_partkey", "s_suppkey"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got, want.astype(got.dtypes.to_dict())
        )


def test_cheapest_supplier_min_is_per_part(spark):
    # every emitted row carries ITS part's minimum — and genuine ties
    # all emerge (the Q2 equality-join-back contract)
    got = q_cheapest_supplier(spark, SF01_DIR).toPandas()
    per_part_min = got.groupby("p_partkey")["unit_price_c"].transform(
        "min"
    )
    assert (got["unit_price_c"] == per_part_min).all()


def test_cheapest_supplier_plan_broadcast_dims(spark):
    plan = _plan(q_cheapest_supplier(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "Window" not in tree, tree
    # the size-class predicate prunes the part scan
    assert "PushedFilters" in plan and "p_size" in plan, plan


# ---------------------------------------------------------------------------
# q_dominant_supplier (Q20 topology)
# ---------------------------------------------------------------------------


def _literal_dominant(sf_dir: str) -> pd.DataFrame:
    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    pk = set(
        part.loc[
            part["p_name"].str.contains(DOMINANT_PART_MARK), "p_partkey"
        ]
    )
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    li = li[li["l_partkey"].isin(pk)].assign(
        qty=lambda d: np.floor(d["l_quantity"]).astype("int64")
    )
    ps = (
        li.groupby(["l_partkey", "l_suppkey"])["qty"]
        .sum()
        .reset_index(name="q")
    )
    tot = ps.groupby("l_partkey").agg(
        tq=("q", "sum"), ns=("q", "size")
    )
    j = ps.merge(tot, on="l_partkey")
    win = j[j["q"] > (2 * j["tq"]) // j["ns"]]
    out = (
        win.groupby("l_suppkey")
        .agg(n_dominated=("q", "size"), total_qty=("q", "sum"))
        .reset_index()
    )
    sup = pd.read_parquet(f"{sf_dir}/supplier.parquet")[
        ["s_suppkey", "s_name"]
    ]
    out = out.merge(sup, left_on="l_suppkey", right_on="s_suppkey")[
        ["s_suppkey", "s_name", "n_dominated", "total_qty"]
    ]
    for c in ("s_suppkey", "n_dominated", "total_qty"):
        out[c] = out[c].astype("int64")
    return out.sort_values("s_suppkey").reset_index(drop=True)


def test_dominant_supplier_differential_vs_literal(spark):
    for sf_dir in (SF_DIR, SF01_DIR):
        want = _literal_dominant(sf_dir)
        assert len(want) > 0  # the 2x-mean cut is non-degenerate
        got = (
            q_dominant_supplier(spark, sf_dir)
            .toPandas()
            .sort_values("s_suppkey")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got, want.astype(got.dtypes.to_dict())
        )


def test_dominant_supplier_plan_collapse_before_joinback(spark):
    plan = _plan(q_dominant_supplier(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "Window" not in tree, tree
    # three bounded aggregates: (part, supp) collapse, per-part
    # totals, winner census — never a corpus-wide window or self-join
    assert tree.count("HashAggregate") >= 6, tree  # partial+final x3
