"""r06s operators: Q11-topology value concentration, Q16-topology
supplier diversity census, Q21-topology sole-late-supplier blame."""

import numpy as np
import pandas as pd

from tinybrain_spark import driver_contract as dc
from tinybrain_spark.driver_contract import (
    DIVERSITY_EXCL_BRAND,
    DIVERSITY_MIN_BAL_C,
    DIVERSITY_SIZES,
    SOLE_LATE_DAYS,
)

from .test_plans import SF_DIR, _plan

SF01_DIR = "/root/testdata/sf0.01"


def _cents(x: pd.Series) -> pd.Series:
    return np.floor(x * 100).astype("int64")


def _rev_cp(li: pd.DataFrame) -> pd.Series:
    return _cents(li["l_extendedprice"]) * (
        100 - _cents(li["l_discount"])
    )


# ---------------------------------------------------------------------------
# q_value_concentration (Q11 topology)
# ---------------------------------------------------------------------------


def _literal_concentration(sf_dir: str) -> pd.DataFrame:
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet").assign(
        rev_cp=_rev_cp
    )
    per_part = (
        li.groupby("l_partkey")["rev_cp"].sum().astype("int64")
    )
    total = int(per_part.sum())
    n_parts = len(per_part)
    thresh = (3 * total) // (2 * n_parts)
    keep = per_part[per_part > thresh]
    out = pd.DataFrame(
        {
            "l_partkey": keep.index.astype("int64"),
            "value_cp": keep.values,
            "share_permille": (keep.values * 1000) // total,
        }
    )
    return out.sort_values("l_partkey").reset_index(drop=True)


def test_value_concentration_differential_vs_literal(spark):
    for sf_dir in (SF_DIR, SF01_DIR):
        want = _literal_concentration(sf_dir)
        assert len(want) > 0  # the 1.5x-mean cut is non-degenerate
        got = (
            dc.q_value_concentration(spark, sf_dir)
            .toPandas()
            .sort_values("l_partkey")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got, want.astype(got.dtypes.to_dict())
        )


def test_value_concentration_scale_free_selectivity():
    # the restructured HAVING keeps selectivity roughly constant as
    # the corpus grows (classic Q11's FRACTION must be retuned per SF)
    small = _literal_concentration(SF_DIR)
    big = _literal_concentration(SF01_DIR)
    n_small = len(pd.read_parquet(f"{SF_DIR}/part.parquet"))
    n_big = len(pd.read_parquet(f"{SF01_DIR}/part.parquet"))
    assert 0 < len(small) / n_small < 0.2
    assert 0 < len(big) / n_big < 0.2


def test_value_concentration_plan_broadcast_scalar(spark):
    plan = _plan(dc.q_value_concentration(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    # the global (total, n_parts) rides a broadcast, never a window
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree, tree
    assert "Window" not in tree, tree
    # lineitem scan reads only the money columns: every ReadSchema in
    # the plan must be a subset of the pruned lineitem projection
    # (regex over ALL scans — not the first-400-chars slice, which was
    # order- and formatting-dependent; ADVICE r05)
    import re as _re

    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    allowed = {"l_partkey", "l_extendedprice", "l_discount"}
    lineitem = [
        cols for cols in ({c.split(":")[0] for c in s.split(",") if c}
                          for s in schemas)
        if cols & allowed
    ]
    # non-vacuous: the lineitem scan must be among the ReadSchemas
    assert lineitem, plan
    for cols in lineitem:
        assert cols <= allowed, (cols, plan)


# ---------------------------------------------------------------------------
# q_supplier_diversity (Q16 topology)
# ---------------------------------------------------------------------------


def _literal_diversity(sf_dir: str) -> pd.DataFrame:
    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    part = part[
        (part["p_brand"] != DIVERSITY_EXCL_BRAND)
        & part["p_size"].isin(DIVERSITY_SIZES)
    ]
    sup = pd.read_parquet(f"{sf_dir}/supplier.parquet")
    blocked = set(
        sup.loc[
            _cents(sup["s_acctbal"]) < DIVERSITY_MIN_BAL_C, "s_suppkey"
        ]
    )
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_partkey", "l_suppkey"]
    ]
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    j = j[~j["l_suppkey"].isin(blocked)]
    out = (
        j.groupby(["p_brand", "p_type", "p_size"])
        .agg(
            supplier_cnt=("l_suppkey", "nunique"),
            part_cnt=("l_partkey", "nunique"),
        )
        .reset_index()
    )
    out["p_size"] = out["p_size"].astype("int64")
    out["supplier_cnt"] = out["supplier_cnt"].astype("int64")
    out["part_cnt"] = out["part_cnt"].astype("int64")
    return out.sort_values(
        ["p_brand", "p_type", "p_size"]
    ).reset_index(drop=True)


def test_supplier_diversity_differential_vs_literal(spark):
    want = _literal_diversity(SF01_DIR)
    assert len(want) > 0
    # the blocklist really bites at sf0.01 (suppliers below 1000.00)
    sup = pd.read_parquet(f"{SF01_DIR}/supplier.parquet")
    assert (_cents(sup["s_acctbal"]) < DIVERSITY_MIN_BAL_C).any()
    got = (
        dc.q_supplier_diversity(spark, SF01_DIR)
        .toPandas()
        .sort_values(["p_brand", "p_type", "p_size"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_supplier_diversity_plan_anti_join_and_collapse(spark):
    plan = _plan(dc.q_supplier_diversity(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "LeftAnti" in tree, tree  # blocklist is an anti join
    assert "BroadcastHashJoin" in tree, tree
    # the corpus collapses to distinct tuples BEFORE the Expand pays
    # for the two distinct-count columns
    assert tree.index("Expand") < tree.index("Scan parquet"), (
        "Expand must sit above the collapsed distinct, not the scan"
    )


# ---------------------------------------------------------------------------
# q_sole_late_supplier (Q21 topology)
# ---------------------------------------------------------------------------


def _literal_sole_late(sf_dir: str) -> pd.DataFrame:
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_orderkey", "l_suppkey", "l_shipdate"]
    ]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_orderdate"]
    ]
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    j["late"] = (
        j["l_shipdate"]
        > j["o_orderdate"] + pd.Timedelta(days=SOLE_LATE_DAYS)
    ).astype("int64")
    per_os = (
        j.groupby(["l_orderkey", "l_suppkey"])["late"]
        .max()
        .reset_index(name="any_late")
    )
    per_o = per_os.groupby("l_orderkey").agg(
        n_supp=("l_suppkey", "size"),
        n_late=("any_late", "sum"),
        blame=(
            "any_late",
            lambda s: np.nan,  # placeholder, filled below
        ),
    )
    # blame = the unique late suppkey per qualifying order
    late_rows = per_os[per_os["any_late"] == 1]
    blame_map = late_rows.groupby("l_orderkey")["l_suppkey"].max()
    per_o["blame"] = blame_map
    keep = per_o[(per_o["n_supp"] >= 2) & (per_o["n_late"] == 1)]
    counts = (
        keep.groupby("blame").size().reset_index(name="numwait")
    )
    sup = pd.read_parquet(f"{sf_dir}/supplier.parquet")[
        ["s_suppkey", "s_name"]
    ]
    out = counts.merge(sup, left_on="blame", right_on="s_suppkey")[
        ["s_suppkey", "s_name", "numwait"]
    ]
    out["s_suppkey"] = out["s_suppkey"].astype("int64")
    out["numwait"] = out["numwait"].astype("int64")
    return out.sort_values("s_suppkey").reset_index(drop=True)


def test_sole_late_differential_vs_literal(spark):
    for sf_dir in (SF_DIR, SF01_DIR):
        want = _literal_sole_late(sf_dir)
        assert len(want) > 0  # sole-late blame is non-degenerate
        got = (
            dc.q_sole_late_supplier(spark, sf_dir)
            .toPandas()
            .sort_values("s_suppkey")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got, want.astype(got.dtypes.to_dict())
        )


def test_sole_late_blame_is_unique_by_construction(spark):
    # every qualifying order has EXACTLY one late supplier, so the
    # max(CASE) blame pick is the unique witness, never a tie-break
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    o = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    j["late"] = (
        j["l_shipdate"]
        > j["o_orderdate"] + pd.Timedelta(days=SOLE_LATE_DAYS)
    ).astype(int)
    per_os = (
        j.groupby(["l_orderkey", "l_suppkey"])["late"]
        .max()
        .reset_index(name="any_late")
    )
    per_o = per_os.groupby("l_orderkey").agg(
        n_supp=("l_suppkey", "size"), n_late=("any_late", "sum")
    )
    qual = per_o[(per_o["n_supp"] >= 2) & (per_o["n_late"] == 1)]
    assert (qual["n_late"] == 1).all()


def test_sole_late_plan_two_level_collapse_no_window(spark):
    # the double-correlated EXISTS/NOT-EXISTS decorrelates into two
    # map-side-combinable groupBys — never a window, never a
    # per-subquery self-join.  The lineitem x orders join strategy is
    # deliberately size-driven (no broadcast() hint in the code): at
    # sf0.001 Catalyst broadcasts the tiny orders side, at corpus
    # scale both sides exceed the threshold and it degrades to a
    # shuffle join on the 8-byte orderkey.
    plan = _plan(dc.q_sole_late_supplier(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree, tree
    assert "SortMergeJoin Exists" not in tree, tree  # no correlated
    # 3 data exchanges (per-(order,supp), per-order, blame census) +
    # <= 2 BroadcastExchange (orders-at-tiny-sf + supplier decorate)
    assert tree.count("Exchange") <= 5, tree
    assert tree.count("HashAggregate") >= 4, tree  # partial+final x2
