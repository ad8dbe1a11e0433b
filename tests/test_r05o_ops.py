"""r05o operators: JSON-props extraction census, heartbeat liveness
rollup (interval-union coverage), zone-map data-skipping diagnostic.

Value-level correctness is pinned by the DuckDB oracle gate
(tools/check_oracle.py); these tests pin the semantics differentially
vs literal pandas recomputes of the same definitions, plus edge cases
the fixture may not exercise (island chaining across exactly-TOL gaps,
equal-timestamp heartbeats)."""

import json

import pandas as pd

from tinybrain_spark.driver_contract.signals import q_forecast_baseline
from tinybrain_spark.driver_contract.timeseries import (
    CONC_WINDOW_S,
    HEARTBEAT_TOL_S,
    q_heartbeat_uptime,
    q_peak_concurrency,
)
from tinybrain_spark.driver_contract.vectors import (
    _ANN_PROBES,
    _ANN_TOPK,
    q_ann_recall,
)
from tinybrain_spark.driver_contract.warehouse import (
    ZONE_THRESH_CENTI,
    q_join_cardinality,
    q_json_props,
    q_zone_map_prune,
)

from .test_plans import SF_DIR


# ---------------------------------------------------------------------------
# q_json_props
# ---------------------------------------------------------------------------


def test_json_props_differential_vs_literal(spark):
    ev = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["event_type", "props"]
    )
    k = ev["props"].map(lambda s: json.loads(s).get("k"))
    ref = (
        pd.DataFrame({"source": ev["event_type"], "k": k})
        .groupby("source")
        .agg(
            n_events=("k", "size"),
            n_null=("k", lambda s: int(s.isna().sum())),
            k_sum=("k", "sum"),
            k_min=("k", "min"),
            k_max=("k", "max"),
            k_distinct=("k", "nunique"),
        )
        .reset_index()
        .sort_values("source", ignore_index=True)
    )
    got = (
        q_json_props(spark, SF_DIR)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )
    for c in ("n_events", "n_null", "k_sum", "k_min", "k_max", "k_distinct"):
        assert got[c].astype("int64").tolist() == ref[c].astype(
            "int64"
        ).tolist(), c


# ---------------------------------------------------------------------------
# q_heartbeat_uptime
# ---------------------------------------------------------------------------


def _uptime_literal(user_es: list[int]) -> tuple[int, int, int]:
    """(n_heartbeats, n_islands, live_s) by the interval-union
    definition, walked literally."""
    es = sorted(user_es)
    islands = []
    start = prev = es[0]
    for t in es[1:]:
        if t - prev > HEARTBEAT_TOL_S:
            islands.append((start, prev))
            start = t
        prev = t
    islands.append((start, prev))
    live = sum(last - first + HEARTBEAT_TOL_S for first, last in islands)
    return len(es), len(islands), live


def test_heartbeat_differential_vs_literal(spark):
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet", columns=["user_id", "ts"])
    es = ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ref = {}
    for uid, grp in pd.DataFrame({"u": ev["user_id"], "es": es}).groupby("u"):
        ref[int(uid)] = _uptime_literal(grp["es"].tolist())
    got = q_heartbeat_uptime(spark, SF_DIR).toPandas()
    assert len(got) == len(ref)
    for row in got.itertuples():
        assert (
            int(row.n_heartbeats),
            int(row.n_islands),
            int(row.live_s),
        ) == ref[int(row.user_id)], row.user_id


def test_heartbeat_edges_chain_and_break(spark):
    """Exactly-TOL gaps chain (<= semantics), TOL+1 breaks, and
    equal-timestamp heartbeats stay in one island."""
    rows = [
        # user 1: 0, TOL, 2*TOL -> one island covering 2*TOL + TOL
        (1, 0),
        (1, HEARTBEAT_TOL_S),
        (1, 2 * HEARTBEAT_TOL_S),
        # user 2: 0, TOL+1 -> two islands, each covering TOL
        (2, 0),
        (2, HEARTBEAT_TOL_S + 1),
        # user 3: duplicate timestamps -> one island, one TOL of cover
        (3, 42),
        (3, 42),
    ]
    from datetime import datetime, timezone

    df = spark.createDataFrame(
        [
            (u, datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None))
            for u, t in rows
        ],
        "user_id long, ts timestamp",
    )
    import tinybrain_spark.driver_contract.timeseries as d

    orig = d.load_table
    d.load_table = lambda sp, sf, name: df
    try:
        got = {
            int(r.user_id): (int(r.n_heartbeats), int(r.n_islands), int(r.live_s))
            for r in q_heartbeat_uptime(spark, "ignored").collect()
        }
    finally:
        d.load_table = orig
    assert got[1] == (3, 1, 3 * HEARTBEAT_TOL_S)
    assert got[2] == (2, 2, 2 * HEARTBEAT_TOL_S)
    assert got[3] == (2, 1, HEARTBEAT_TOL_S)


# ---------------------------------------------------------------------------
# q_zone_map_prune
# ---------------------------------------------------------------------------


def test_zone_map_differential_vs_literal(spark):
    ev = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["event_type", "ts", "value"]
    )
    import numpy as np

    vc = np.floor(ev["value"].to_numpy() * 100).astype("int64")
    day = ev["ts"].astype("datetime64[ns]").dt.date
    zones = (
        pd.DataFrame({"source": ev["event_type"], "day": day, "vc": vc})
        .groupby(["source", "day"])
        .agg(n_rows=("vc", "size"), vmax=("vc", "max"))
        .reset_index()
    )
    zones["pruned"] = (zones["vmax"] < ZONE_THRESH_CENTI).astype("int64")
    ref = (
        zones.groupby("source")
        .agg(
            n_buckets=("pruned", "size"),
            n_pruned=("pruned", "sum"),
            rows_pruned=("n_rows", lambda s: int((s * zones.loc[s.index, "pruned"]).sum())),
            rows_total=("n_rows", "sum"),
        )
        .reset_index()
        .sort_values("source", ignore_index=True)
    )
    got = (
        q_zone_map_prune(spark, SF_DIR)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )
    for c in ("n_buckets", "n_pruned", "rows_pruned", "rows_total"):
        assert got[c].astype("int64").tolist() == ref[c].astype(
            "int64"
        ).tolist(), c
    # the probe threshold actually prunes something at this SF — a
    # diagnostic that never fires pins nothing
    assert int(got["n_pruned"].sum()) > 0


# ---------------------------------------------------------------------------
# q_forecast_baseline
# ---------------------------------------------------------------------------


def test_forecast_baseline_differential_vs_literal(spark):
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet", columns=["event_type", "ts"])
    tb = ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9 // 3600
    hourly = (
        pd.DataFrame({"source": ev["event_type"], "tb": tb})
        .groupby(["source", "tb"])
        .size()
        .rename("n")
        .reset_index()
    )
    prev = hourly.rename(columns={"n": "n_pred"}).copy()
    prev["tb"] += 168
    j = hourly.merge(prev, on=["source", "tb"])
    j["abs_err"] = (j["n"] - j["n_pred"]).abs()
    ref = (
        j.groupby("source")
        .agg(
            n_scored=("abs_err", "size"),
            sum_abs_err=("abs_err", "sum"),
            worst_abs_err=("abs_err", "max"),
        )
        .reset_index()
        .sort_values("source", ignore_index=True)
    )
    ref["mae_milli"] = (ref["sum_abs_err"] * 1000) // ref["n_scored"]
    got = (
        q_forecast_baseline(spark, SF_DIR)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )
    assert len(got) == len(ref)
    for c in ("n_scored", "sum_abs_err", "worst_abs_err", "mae_milli"):
        assert got[c].astype("int64").tolist() == ref[c].astype(
            "int64"
        ).tolist(), c


# ---------------------------------------------------------------------------
# q_join_cardinality
# ---------------------------------------------------------------------------


def test_join_cardinality_matches_actually_running_the_join(spark):
    """The whole point: the estimate must equal the cardinality of the
    join it predicts.  Run the real pandas join per type pair and
    compare."""
    ev = pd.read_parquet(
        f"{SF_DIR}/events.parquet", columns=["user_id", "event_type"]
    )
    got = q_join_cardinality(spark, SF_DIR).toPandas()
    types = sorted(ev["event_type"].unique())
    for row in got.itertuples():
        a = ev[ev["event_type"] == row.type_a][["user_id"]]
        b = ev[ev["event_type"] == row.type_b][["user_id"]]
        joined = a.merge(b, on="user_id")
        assert int(row.join_rows) == len(joined), (row.type_a, row.type_b)
        assert int(row.matched_keys) == joined["user_id"].nunique()
        per = joined.groupby("user_id").size()
        assert int(row.max_key_rows) == int(per.max())
        assert row.type_a < row.type_b
    # every pair with at least one co-occurring user is present
    n_expected = sum(
        1
        for i, ta in enumerate(types)
        for tb_ in types[i + 1 :]
        if len(
            set(ev[ev["event_type"] == ta]["user_id"])
            & set(ev[ev["event_type"] == tb_]["user_id"])
        )
    )
    assert len(got) == n_expected


# ---------------------------------------------------------------------------
# q_peak_concurrency
# ---------------------------------------------------------------------------


def _peak_literal(es_list, tol):
    """Literal sweep: returns {day: peak} including day-start carry."""
    deltas = [(t, 1) for t in es_list] + [(t + tol, -1) for t in es_list]
    lo = min(t for t, _ in deltas) // 86400
    hi = max(t for t, _ in deltas) // 86400
    deltas += [(d * 86400, 0) for d in range(lo, hi + 1)]
    deltas.sort()  # (t, d) with -1 < 0 < +1 at equal t
    conc, peak = 0, {}
    for t, d in deltas:
        conc += d
        day = t // 86400
        peak[day] = max(peak.get(day, conc), conc)
    return peak


def test_peak_concurrency_differential_vs_literal(spark):
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet", columns=["ts"])
    es = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ).tolist()
    ref = _peak_literal(es, CONC_WINDOW_S)
    got = {
        int(r.day): int(r.peak)
        for r in q_peak_concurrency(spark, SF_DIR).collect()
    }
    assert got == ref


def test_peak_concurrency_midnight_carry_in(spark):
    """A day whose peak is entirely inherited from intervals opened
    the previous day must still report it (the sentinel row), and a
    half-open interval ending exactly at midnight does NOT count in
    the new day."""
    from datetime import datetime, timezone

    tol = CONC_WINDOW_S
    day1 = 86400
    rows = [
        # two intervals open just before midnight and span into day 1
        day1 - 10,
        day1 - 5,
        # one interval ends EXACTLY at midnight: [day1-tol, day1)
        day1 - tol,
        # day 1's own traffic: a single event much later
        day1 + 40000,
    ]
    df = spark.createDataFrame(
        [
            (datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None),)
            for t in rows
        ],
        "ts timestamp",
    )
    import tinybrain_spark.driver_contract.timeseries as d

    orig = d.load_table
    d.load_table = lambda sp, sf, name: df
    try:
        got = {
            int(r.day): int(r.peak)
            for r in q_peak_concurrency(spark, "ignored").collect()
        }
    finally:
        d.load_table = orig
    # day 0 peak: all three intervals overlap before midnight
    assert got[0] == 3
    # day 1 carry-in: the two near-midnight intervals are still open at
    # 00:00 (the exact-midnight one is closed) -> sentinel reports 2
    assert got[1] == 2


# ---------------------------------------------------------------------------
# q_ann_recall
# ---------------------------------------------------------------------------


def test_ann_recall_matches_literal_numpy_eval(spark):
    """Recompute recall@k literally: exact cosine top-k vs the
    same-bucket-restricted top-k, buckets recomputed with the engine's
    own bucket expression; the harness's counters must match."""
    import numpy as np

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    ids = emb["vec_id"].to_numpy(dtype="int64")
    mat = np.stack([np.asarray(v, dtype="float64") for v in emb["embedding"]])
    norms = np.linalg.norm(mat, axis=1)
    from tinybrain_spark.similarity import lsh_bucket_expr
    from pyspark.sql import functions as F

    bdf = (
        spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
            "vec_id long, embedding array<double>",
        )
        .select("vec_id", lsh_bucket_expr("embedding", 64).alias("b"))
        .toPandas()
    )
    bucket = dict(zip(bdf["vec_id"], bdf["b"]))
    k = _ANN_TOPK
    got = {
        int(r.probe_id): (int(r.n_approx), int(r.n_hits), int(r.recall_permille))
        for r in q_ann_recall(spark, SF_DIR).collect()
    }
    assert len(got) == _ANN_PROBES
    for pi in range(_ANN_PROBES):
        p = np.where(ids == pi)[0][0]
        cos = (mat @ mat[p]) / (norms * norms[p])
        order = sorted(
            [(float(-cos[j]), int(ids[j])) for j in range(len(ids)) if ids[j] != pi]
        )
        exact = {vid for _, vid in order[:k]}
        same = [(c, vid) for c, vid in order if bucket[vid] == bucket[pi]]
        approx = {vid for _, vid in same[:k]}
        hits = len(exact & approx)
        assert got[pi] == (len(approx), hits, (hits * 1000) // k), pi
