"""r05m operators: interpolated as-of (asof_both), PMI collocations,
tokenizer fertility, hot-key skew census, embedding-quantization dedup.

Value-level correctness is pinned by the DuckDB oracle gate
(tools/check_oracle.py — all five have oracle_sql entries); these tests
pin the asof_both primitive's semantics on hand cases and the physical
plans' scale shapes.
"""

from pyspark.sql import functions as F

from tinybrain_spark.driver_contract.events import (
    q_bitmap_distinct,
    q_key_skew,
)
from tinybrain_spark.driver_contract.signals import q_trend_slope
from tinybrain_spark.driver_contract.text import (
    q_pmi_bigrams,
    q_quality_calibration,
    q_token_fertility,
)
from tinybrain_spark.driver_contract.timeseries import (
    _asof_state_inputs,
    q_asof_interp,
)
from tinybrain_spark.driver_contract.vectors import q_semantic_dedup
from tinybrain_spark.asof import asof_both

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _tree(df) -> str:
    return _plan(df).split("\n\n")[0]


def _opt(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _no_unpartitioned_windows(df) -> None:
    """Unpartitioned windows print ``Window [exprs], [order]`` (two
    bracket groups, the last being an ORDER spec with ASC/DESC);
    partitioned-no-order windows ALSO print two groups but the last is
    the partition column list — distinguish by the ASC/DESC marker."""
    import re

    for line in _opt(df).splitlines():
        m = re.search(r"Window \[.*", line)
        if m:
            node = m.group(0)
            if node.count("], [") >= 2:
                continue  # [exprs], [partition], [order]
            last = node.rsplit("], [", 1)[-1]
            assert " ASC" not in last and " DESC" not in last, (
                "unpartitioned Window node:\n" + line
            )


# ---------------------------------------------------------------------------
# asof_both primitive
# ---------------------------------------------------------------------------


def test_asof_both_hand_case(spark):
    """Backward/forward neighbors + matched times on a hand-built
    series, including: before-first (backward NULL), after-last
    (forward NULL), exact at-or-equal hit (matches BOTH ways), and a
    key with no right rows at all (both NULL)."""
    left = spark.createDataFrame(
        [("a", 5), ("a", 10), ("a", 17), ("a", 30), ("z", 7)],
        "k string, t long",
    )
    right = spark.createDataFrame(
        [("a", 10, 100), ("a", 20, 200)], "k string, rt long, v long"
    )
    out = {
        (r["k"], r["_t"]): r
        for r in asof_both(
            left, right, ["k"], "t", "rt", ["v"]
        ).collect()
    }
    # before first right row: no backward, forward = (10, 100)
    r = out[("a", 5)]
    assert r["_b_vt"] is None and r["_f_vt"] == 10 and r["_f_v_v"] == 100
    # exact hit at t=10 matches both directions with the same row
    r = out[("a", 10)]
    assert r["_b_vt"] == 10 and r["_b_v_v"] == 100
    assert r["_f_vt"] == 10 and r["_f_v_v"] == 100
    # interior: backward (10,100), forward (20,200)
    r = out[("a", 17)]
    assert (r["_b_vt"], r["_b_v_v"]) == (10, 100)
    assert (r["_f_vt"], r["_f_v_v"]) == (20, 200)
    # after last: forward NULL
    r = out[("a", 30)]
    assert (r["_b_vt"], r["_b_v_v"]) == (20, 200) and r["_f_vt"] is None
    # key with no right rows
    r = out[("z", 7)]
    assert r["_b_vt"] is None and r["_f_vt"] is None


def test_asof_interp_matches_literal_formula(spark):
    """q_asof_interp's milli interpolation vs a literal Python floor
    on the same sf0.001 inputs (exercises LOCF/NOCB edges and the
    floor-on-negative-slope path end to end on real data)."""
    rows = asof_both(
        *_state_inputs(spark), ["event_type"], "ts_s", "hb", ["n"]
    ).collect()
    expect = {}
    for r in rows:
        bt, ft, bv, fv, t = (
            r["_b_vt"], r["_f_vt"], r["_b_v_n"], r["_f_v_n"], r["_t"]
        )
        if bt is None and ft is None:
            continue
        if bt is None:
            v = fv * 1000
        elif ft is None or ft == bt:
            v = bv * 1000
        else:
            num = (fv - bv) * (t - bt) * 1000
            v = bv * 1000 + (num - num % (ft - bt)) // (ft - bt)
        expect[r["event_id"]] = v
    got = {
        r["event_id"]: r["v_interp_milli"]
        for r in q_asof_interp(spark, SF_DIR).collect()
    }
    assert got == expect


def _state_inputs(spark):
    return _asof_state_inputs(spark, SF_DIR)


def test_asof_interp_plan(spark):
    """One union-scan shape: no cartesian, every window partitioned."""
    df = q_asof_interp(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    _no_unpartitioned_windows(df)


# ---------------------------------------------------------------------------
# plan shapes
# ---------------------------------------------------------------------------


def test_pmi_bigrams_partial_topk_no_lambda(spark):
    """Top-k must plan TakeOrderedAndProject; the only Window ranks the
    <=100 already-collected rows; index-explode idiom — no
    higher-order-function lambda may survive into the optimized plan
    (the r05j InferFiltersFromGenerate trap)."""
    df = q_pmi_bigrams(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert _tree(df).count("Window") == 1
    assert "lambdafunction" not in _opt(df)


def test_key_skew_two_stacked_aggregations(spark):
    """Raw rows collapse to (event_type, user_id) in the map stage:
    exactly two exchanges (the two groupBys), zero windows, zero joins."""
    df = q_key_skew(spark, SF_DIR)
    tree = _tree(df)
    assert tree.count("Exchange") == 2, tree
    assert "Window" not in tree
    assert "Join" not in tree


def test_semantic_dedup_single_exchange_pruned_scan(spark):
    """Quantize + hash happen in the scan-stage projection: ONE
    exchange (the bucket groupBy), and the unused label column never
    leaves the parquet scan."""
    df = q_semantic_dedup(spark, SF_DIR)
    tree = _tree(df)
    assert tree.count("Exchange") == 1, tree
    plan = _plan(df)
    assert "label" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_token_fertility_single_exchange_no_joins(spark):
    """Pure per-row Catalyst features into one 5-row groupBy."""
    df = q_token_fertility(spark, SF_DIR)
    tree = _tree(df)
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree
    assert "Window" not in tree


def test_trend_slope_split_division_is_exact_milli_floor():
    """The split-division form q*1000 + (r*1000) DIV den must equal
    floor(num * 1000 / den) for every sign of num — without ever
    forming num*1000 (the overflow the split exists to avoid).
    Property-checked against Fraction over a grid including negative
    numerators and den near 1."""
    from fractions import Fraction

    for num in (-10**15, -999983, -6001, -7, -1, 0, 1, 6001, 10**15):
        for den in (1, 2, 3, 59, 1440, 999983):
            q, r = divmod(num, den)  # python divmod IS pmod-floor
            got = q * 1000 + (r * 1000) // den
            want = Fraction(num * 1000, den).__floor__()
            assert got == want, (num, den, got, want)


def test_trend_slope_plan_single_exchange(spark):
    """Five moment sums in ONE map-side-combinable groupBy: a single
    exchange, no windows, no joins; slope math on aggregated rows."""
    df = q_trend_slope(spark, SF_DIR)
    tree = _tree(df)
    assert tree.count("Exchange") == 1, tree
    assert "Window" not in tree
    assert "Join" not in tree


def test_quality_calibration_windows_partitioned_no_cartesian(spark):
    """One event-wide exchange (the (source, score) histogram groupBy);
    every window partitions by source over histogram rows; the global
    median folds in-row (sort_array + aggregate), never through an
    unpartitioned window; broadcast joins only."""
    df = q_quality_calibration(spark, SF_DIR)
    _no_unpartitioned_windows(df)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_quality_calibration_median_is_consistent(spark):
    """The in-row global median must sit between the per-source p50
    extremes, and below_ppm must be < 1e6 with n_below < n_docs."""
    rows = q_quality_calibration(spark, SF_DIR).collect()
    meds = {r["global_med"] for r in rows}
    assert len(meds) == 1
    (gmed,) = meds
    p50s = [r["p50_score"] for r in rows]
    assert min(p50s) <= gmed <= max(p50s)
    for r in rows:
        assert 0 <= r["n_below_global"] <= r["n_docs"]
        assert 0 <= r["below_ppm"] < 1_000_000


def test_bitmap_distinct_two_stacked_aggregations(spark):
    """Bitmap words OR-combine map-side: exactly two exchanges, zero
    windows, zero joins, no count(DISTINCT) expansion node."""
    df = q_bitmap_distinct(spark, SF_DIR)
    tree = _tree(df)
    assert tree.count("Exchange") == 2, tree
    assert "Window" not in tree
    assert "Join" not in tree
    assert "Expand" not in tree  # the count-distinct rewrite we avoid


def test_bitmap_words_or_merge_to_weekly_distinct(spark):
    """The OR-mergeability claim: weekly distinct users derived by
    bit_or-merging the DAILY word tables equals exact count(DISTINCT)
    over the week — the cagg rollup story, exact."""
    from pyspark.sql import functions as F
    from tinybrain_spark.session import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) AS LONG) DIV 86400").alias("day"),
        F.expr("CAST(user_id AS LONG) DIV 64").alias("w"),
        F.expr(
            "shiftleft(CAST(1 AS LONG), CAST(pmod(user_id, 64) AS INT))"
        ).alias("b"),
    )
    daily = ev.groupBy("event_type", "day", "w").agg(
        F.expr("bit_or(b)").alias("bits")
    )
    weekly = (
        daily.withColumn("week", F.expr("day DIV 7"))
        .groupBy("event_type", "week", "w")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .groupBy("event_type", "week")
        .agg(F.sum(F.expr("bit_count(bits)")).alias("n"))
    )
    direct = (
        ev.withColumn("week", F.expr("day DIV 7"))
        .groupBy("event_type", "week")
        .agg(F.countDistinct("w", "b").alias("n"))
    )
    got = {(r[0], r[1]): r[2] for r in weekly.collect()}
    want = {(r[0], r[1]): r[2] for r in direct.collect()}
    assert got == want


def test_user_streaks_hand_case(spark):
    """Islands on a hand-built activity log: 3-day + 2-day streaks and
    a singleton; the singleton-only user is filtered by the >=2 gate."""
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(1, d) for d in (10, 11, 12, 20, 21, 30)]
        + [(2, d) for d in (5, 9, 40)],
        "user_id long, day long",
    )
    isl = ev.select(
        "user_id",
        "day",
        (
            F.col("day")
            - F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy("day")
            )
        ).alias("isl"),
    )
    runs = isl.groupBy("user_id", "isl").agg(F.count("*").alias("len"))
    out = {
        r["user_id"]: (r["longest"], r["n_streaks"], r["active"])
        for r in runs.groupBy("user_id")
        .agg(
            F.max("len").alias("longest"),
            F.count("*").alias("n_streaks"),
            F.sum("len").alias("active"),
        )
        .collect()
    }
    assert out[1] == (3, 3, 6)
    assert out[2] == (1, 3, 3)


def test_semantic_dedup_buckets_partition_vectors(spark):
    """Every vector lands in exactly one bucket (counts partition the
    table) and each keep_vec_id is a member of its own bucket (min)."""
    out = q_semantic_dedup(spark, SF_DIR).collect()
    total = sum(r["n_vecs"] for r in out)
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert total == n
    assert all(r["n_vecs"] >= 1 for r in out)
    assert len({r["bucket8"] for r in out}) == len(out)
