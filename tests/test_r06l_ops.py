"""r06l operators: label-propagation round over the NN graph,
Q4-topology EXISTS census."""

import pandas as pd

from tinybrain_spark.driver_contract.tpch import (
    LATE_ORDER_MIN_LAG_DAYS,
    LATE_ORDER_QUARTER_END,
    LATE_ORDER_QUARTER_START,
    q_late_order_census,
)
from tinybrain_spark.driver_contract.vectors import (
    q_ann_nn_bucketed,
    q_label_prop,
)

from .test_plans import SF_DIR, _plan


def test_label_prop_majority_vs_literal(spark):
    """Literal recompute from the already-oracle-verified NN table:
    undirected neighbor majority with smallest-label tie-break."""
    nn = q_ann_nn_bucketed(spark, SF_DIR).toPandas()
    edges = set()
    for a, b in zip(nn["vec_id"], nn["nn_id"]):
        edges.add((int(a), int(b)))
        edges.add((int(b), int(a)))
    lab = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")[
        ["vec_id", "label"]
    ]
    lm = {int(v): int(l) for v, l in zip(lab["vec_id"], lab["label"])}
    votes: dict = {}
    for a, b in edges:
        votes.setdefault(a, {}).setdefault(lm[b], 0)
        votes[a][lm[b]] += 1
    want = {}
    for a, vs in votes.items():
        best = max(vs.items(), key=lambda kv: (kv[1], -kv[0]))
        want[a] = best[0]
    got = q_label_prop(spark, SF_DIR).toPandas()
    assert len(got) == len(want)
    for _, r in got.iterrows():
        assert r["new_label"] == want[int(r["vec_id"])]
        assert r["old_label"] == lm[int(r["vec_id"])]
        assert r["changed"] == int(r["new_label"] != r["old_label"])
    # propagation disputes at least one assignment on the fixture
    assert got["changed"].sum() > 0


def test_label_prop_plan_no_window(spark):
    plan = _plan(q_label_prop(spark, SF_DIR))
    # the majority vote is an argmax groupBy, never a window
    assert "Window" not in plan, plan


def test_late_order_census_vs_literal(spark):
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    orders = orders[
        (orders["o_orderdate"] >= pd.Timestamp(LATE_ORDER_QUARTER_START))
        & (orders["o_orderdate"] < pd.Timestamp(LATE_ORDER_QUARTER_END))
    ]
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[
        ["l_orderkey", "l_shipdate"]
    ]
    j = orders.merge(li, left_on="o_orderkey", right_on="l_orderkey")

    def _days(ts):
        return ts.astype("datetime64[s]").astype("int64") // 86400

    late = j[
        _days(j["l_shipdate"]) - _days(j["o_orderdate"])
        > LATE_ORDER_MIN_LAG_DAYS
    ]
    want = (
        late.drop_duplicates("o_orderkey")
        .groupby("o_orderpriority")
        .size()
        .rename("n_late_orders")
        .reset_index()
    )
    got = (
        q_late_order_census(spark, SF_DIR)
        .toPandas()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)
    )
    want = want.sort_values("o_orderpriority").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))
    # the census is selective: late orders exist but not all qualify
    assert 0 < got["n_late_orders"].sum() < len(orders)


def test_late_order_plan_semi_join_pushdown(spark):
    plan = _plan(q_late_order_census(spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    # lineitem ships only (orderkey, shipdate)
    read = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "l_shipdate" in l
    ][0]
    assert "l_extendedprice" not in read, read
