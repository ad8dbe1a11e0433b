"""r06c operators: temporal value-distribution drift and the
image-quality gate."""

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from tinybrain_spark.driver_contract.media import q_image_quality
from tinybrain_spark.driver_contract.sequences import DAY_US
from tinybrain_spark.driver_contract.timeseries import (
    HIST_BIN,
    _DRIFT_FP,
    q_value_drift,
)

from .test_plans import SF_DIR, _plan, assert_no_unpartitioned_windows


# ---------------------------------------------------------------------------
# q_value_drift
# ---------------------------------------------------------------------------


def _literal_value_drift() -> pd.DataFrame:
    ev = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["ts", "event_type", "value"]
    )
    us = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    day = us // DAY_US
    # Spark DIV / DuckDB // truncate toward zero (mirrors the engines)
    cb = np.floor(ev["value"] * 100).astype("int64")
    bins = np.where(cb >= 0, cb // HIST_BIN, -((-cb) // HIST_BIN))
    mid = (int(day.min()) + int(day.max()) + 1) // 2
    era = (day >= mid).astype(int)
    census = Counter(zip(ev["event_type"], era, bins))
    tot = Counter()
    for (src, e, _), c in census.items():
        tot[(src, e)] += c
    per_bin = defaultdict(lambda: [0, 0, 0, 0])  # s0, s1, n_a, n_b
    for (src, e, b), c in census.items():
        share = c * _DRIFT_FP // tot[(src, e)]
        per_bin[(src, b)][e] = share
        per_bin[(src, b)][2 + e] = c
    rows = {}
    for (src, b), (s0, s1, na, nb) in per_bin.items():
        r = rows.setdefault(src, {"tvd2": 0, "n_early": 0, "n_late": 0,
                                  "worst": (-1, None)})
        gap = abs(s0 - s1)
        r["tvd2"] += gap
        r["n_early"] += na
        r["n_late"] += nb
        key = (gap, -b)  # max gap, ties -> smallest bin
        if key > r["worst"]:
            r["worst"] = key
    out = []
    for src, r in sorted(rows.items()):
        tvd = r["tvd2"] // 2
        out.append(
            (src, r["n_early"], r["n_late"], tvd,
             tvd * 1000 // _DRIFT_FP, -r["worst"][1], r["worst"][0])
        )
    return pd.DataFrame(
        out,
        columns=["source", "n_early", "n_late", "tvd_fp", "drift_ppt",
                 "worst_bin", "worst_gap_fp"],
    )


def test_value_drift_differential_vs_literal(spark):
    want = _literal_value_drift()
    got = (
        q_value_drift(spark, SF_DIR)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_value_drift_invariants(spark):
    out = q_value_drift(spark, SF_DIR).toPandas()
    # TVD is a metric bounded by the fixed-point unit
    assert out["tvd_fp"].between(0, _DRIFT_FP).all()
    assert out["drift_ppt"].between(0, 1000).all()
    # the worst single bin never exceeds the total (2*TVD)
    assert (out["worst_gap_fp"] <= 2 * out["tvd_fp"]).all()
    assert (out["n_early"] + out["n_late"]).gt(0).all()


def test_value_drift_plan_one_corpus_exchange(spark):
    df = q_value_drift(spark, SF_DIR)
    plan = _plan(df)
    assert_no_unpartitioned_windows(df)
    # the census is localCheckpoint-materialized, so the plan reads it
    # as an ExistingRDD: the corpus scan/shuffle ran exactly once and
    # everything downstream is census-sized (<= 3 tiny exchanges)
    tree = plan.split("\n\n")[0]
    assert "Scan ExistingRDD" in tree, tree
    assert "Scan parquet" not in tree, tree
    hash_exchanges = sum(
        1 for l in tree.splitlines()
        if "Exchange" in l and "Broadcast" not in l
    )
    assert hash_exchanges <= 3, tree


# ---------------------------------------------------------------------------
# q_image_quality
# ---------------------------------------------------------------------------


def _literal_image_quality() -> pd.DataFrame:
    docs = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["doc_id"]
    )
    rows = []
    for did in sorted(int(d) for d in docs["doc_id"]):
        w, h = did % 11 + 4, did % 5 + 4
        v = (did * 37 + np.arange(w * h, dtype=np.int64)) % 241
        n = int(v.size)
        s1, s2 = int(v.sum()), int((v * v).sum())
        hist = np.bincount(v // 64, minlength=4)
        rows.append(
            (did, n, int(v.min()), int(v.max()),
             *[int(hist[b]) for b in range(4)],
             math.isqrt((n * s2 - s1 * s1) // (n * n)))
        )
    return pd.DataFrame(
        rows,
        columns=["doc_id", "n_pix", "lum_min", "lum_max",
                 "h0", "h1", "h2", "h3", "contrast_u"],
    )


def test_image_quality_differential_vs_literal(spark):
    want = _literal_image_quality()
    got = (
        q_image_quality(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_image_quality_invariants(spark):
    out = q_image_quality(spark, SF_DIR).toPandas()
    assert (out[["h0", "h1", "h2", "h3"]].sum(axis=1) == out["n_pix"]).all()
    assert (out["lum_min"] <= out["lum_max"]).all()
    assert out["lum_max"].le(240).all()  # bytes are mod 241
    # contrast is bounded by half the range of an 8-bit image
    assert out["contrast_u"].between(0, 128).all()


def test_image_quality_plan_zero_shuffles(spark):
    plan = _plan(q_image_quality(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    # two chained Arrow stages: synth + quality (formatted explain
    # names each node twice — once in the tree, once in the details)
    assert plan.count("MapInPandas") == 4, plan
