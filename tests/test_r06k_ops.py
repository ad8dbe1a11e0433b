"""r06k operators: reciprocal-NN semantic-dup pairs, order-to-ship
latency census."""

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.tpch import (
    SHIP_LAG_MAX_DAYS,
    q_ship_latency,
)
from tinybrain_spark.driver_contract.vectors import (
    q_ann_nn_bucketed,
    q_mutual_nn,
)

from .test_plans import SF_DIR, _plan


def test_mutual_nn_is_reciprocal_subset_of_nn(spark):
    """Every reported pair must be mutually each other's 1-NN, and
    every mutual 1-NN pair must be reported — both directions checked
    against the already-oracle-verified NN table."""
    nn = q_ann_nn_bucketed(spark, SF_DIR).toPandas()
    nn_map = dict(zip(nn["vec_id"], nn["nn_id"]))
    want = sorted(
        (a, b)
        for a, b in nn_map.items()
        if nn_map.get(b) == a and a < b
    )
    got = q_mutual_nn(spark, SF_DIR).toPandas()
    got_pairs = sorted(zip(got["vec_a"], got["vec_b"]))
    assert got_pairs == want
    assert len(got_pairs) > 0
    # pair list is strictly smaller than the NN table (hubs drop out)
    assert len(got_pairs) < len(nn)
    # same_label agrees with the embeddings table
    lab = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")[
        ["vec_id", "label"]
    ]
    lm = dict(zip(lab["vec_id"], lab["label"]))
    for _, r in got.iterrows():
        assert r["same_label"] == int(lm[r["vec_a"]] == lm[r["vec_b"]])


def _literal_ship_latency() -> pd.DataFrame:
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[
        ["l_orderkey", "l_shipdate"]
    ]
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")[
        ["o_orderkey", "o_orderpriority", "o_orderdate"]
    ]
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")

    def _days(ts):
        return ts.astype("datetime64[s]").astype("int64") // 86400

    j["lag"] = _days(j["l_shipdate"]) - _days(j["o_orderdate"])
    assert j["lag"].abs().max() < SHIP_LAG_MAX_DAYS
    rows = []
    for pri, g in j.groupby("o_orderpriority"):
        v = np.sort(g["lag"].to_numpy())
        n = len(v)
        med = v[(n + 1) // 2 - 1]  # type-1 lower median, 1-based rank
        s = int(v.sum())
        mean_fl = s // n if s >= 0 else -((-s) // n)  # trunc toward 0
        rows.append((pri, n, int(med), mean_fl, int(v.max())))
    return (
        pd.DataFrame(
            rows,
            columns=["o_orderpriority", "n_lines", "median_days",
                     "mean_days_fl", "max_days"],
        )
        .sort_values("o_orderpriority")
        .reset_index(drop=True)
    )


def test_ship_latency_differential_vs_literal(spark):
    want = _literal_ship_latency()
    got = (
        q_ship_latency(spark, SF_DIR)
        .toPandas()
        .sort_values("o_orderpriority")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_ship_latency_plan_census_shape(spark):
    plan = _plan(q_ship_latency(spark, SF_DIR))
    # one orderkey join; the quantile windows run over the census,
    # never over raw joined lines (the census groupBy sits between)
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    li = [l for l in read if "l_shipdate" in l][0]
    assert "l_extendedprice" not in li and "l_quantity" not in li, li
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    (win_i,) = [i for i, l in enumerate(lines) if "Window" in l][:1]
    assert any("HashAggregate" in l for l in lines[win_i + 1:]), tree
