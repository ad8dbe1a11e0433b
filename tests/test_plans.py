"""Physical-plan quality gates: column pruning and filter pushdown must
reach the parquet scan, and pooling plans must stay shuffle-free
(SURVEY.md §4 — 'a scan that reads all columns for a 2-column
projection is wrong')."""

from pyspark.sql import functions as F

from tinybrain_spark import driver_contract as dc
from tinybrain_spark.driver_contract.corpus import (
    q_padding_waste,
    q_pareto_front,
    q_rrf_fusion,
    q_shard_assign,
)
from tinybrain_spark.driver_contract.dedup import (
    _NGRAM_DF_CAP,
    _ngram_rare_shingles,
    q_bloom_decontaminate,
    q_containment,
    q_ngram_jaccard,
)
from tinybrain_spark.driver_contract.events import (
    q_interval_join,
    q_journey_paths,
    q_late_arrival,
    q_topk_users,
    q_triangle_counts,
)
from tinybrain_spark.driver_contract.sequences import token_table
from tinybrain_spark.driver_contract.signals import (
    q_forecast_baseline,
    q_mad_outliers,
    q_zscore_outliers,
)
from tinybrain_spark.driver_contract.text import (
    _mg_candidate_counts,
    q_bpe_merge_step,
    q_cms_heavy,
    q_dsir_weights,
    q_heavy_hitters_mg,
    q_lm_surprisal,
    q_tfidf_terms,
)
from tinybrain_spark.driver_contract.tiers import (
    q_cagg_hierarchy,
    q_ohlc_bars,
    q_retention_policy,
    q_tier_fidelity,
)
from tinybrain_spark.driver_contract.timeseries import (
    q_gapfill_zero,
    q_heartbeat_uptime,
    q_peak_concurrency,
    q_rolling_distinct,
    q_topn_hours,
)
from tinybrain_spark.driver_contract.vectors import q_ann_recall, q_ann_topk
from tinybrain_spark.driver_contract.warehouse import (
    q_delta_join_view,
    q_join_cardinality,
    q_json_props,
    q_pivot_daily,
    q_unpivot_metrics,
    q_zone_map_prune,
)
from tinybrain_spark.session import load_table
from tinybrain_spark.udfs import pool_tier

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def assert_no_unpartitioned_windows(df) -> None:
    """Pin: every Window node in the optimized plan has a non-empty
    partition spec.  An unpartitioned window prints as
    ``Window [exprs], [order]`` (two bracket groups) vs the partitioned
    ``Window [exprs], [partition], [order]`` (three) — the two-group
    form is the 'No Partition Defined ... single partition' funnel."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        m = re.search(r"Window \[.*", line)
        if m:
            assert m.group(0).count("], [") >= 2, (
                "unpartitioned Window node:\n" + line
            )


def test_token_table_scan_prunes_columns(spark):
    plan = _plan(token_table(spark, SF_DIR))
    # events has (event_id, ts, user_id, event_type, value, props);
    # the token table needs only 3 of 6 columns
    assert "event_type" not in plan
    assert "props" not in plan
    assert "ReadSchema" in plan


def test_filter_pushdown_reaches_scan(spark):
    df = load_table(spark, SF_DIR, "events").where(
        F.col("event_type") == "purchase"
    ).select("event_id")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "purchase" in plan.split("PushedFilters")[1].split("\n")[0]


def _tree(df) -> str:
    return _plan(df).split("\n\n")[0]


def test_pooling_is_shuffle_free(spark, workdir):
    """Per-row pooling must not introduce an exchange: every pooling
    plan holds exactly one MapInArrow node (the kernels' single Arrow
    boundary) and no Exchange beyond those its input already had."""
    from tinybrain_spark.datagen import generate
    from tinybrain_spark.rollup import RollupConfig, RollupEngine

    ev = load_table(spark, SF_DIR, "events")
    seq = ev.select(
        "event_id", F.array(F.col("event_id").cast("int")).alias("tokens")
    )
    tree = _tree(pool_tier("avg", 2, 1)(seq))
    assert "Exchange" not in tree
    assert tree.count("MapInArrow") == 1

    # headline rollup leaf: the token table's own exchange, nothing more
    tree = _tree(dc.queries()["q_avg_rollup_t2"](spark, SF_DIR))
    upstream = _tree(token_table(spark, SF_DIR)).count("Exchange")
    assert tree.count("Exchange") == upstream
    assert tree.count("MapInArrow") == 1

    # engine avg pyramid: ONE write of the run-kind table partitioned
    # by (tier, source); its one exchange is the write clustering, and
    # it runs BELOW the kernels (cluster before pooling, never after)
    engine = RollupEngine(spark, workdir)
    cfg = RollupConfig(kernel="avg", window=4, num_tiers=2, run_kind="plan")
    base = generate(spark, n_docs=32, n_tok=64, seed=1, num_partitions=2)
    written = []
    write = engine.catalog.write

    def spy(df, name, **kw):
        written.append((name, kw.get("partition_by"), df))
        return write(df, name, **kw)

    engine.catalog.write = spy
    engine.run_pyramid(base, cfg, resume=False)
    (pyramid_df,) = [df for name, _, df in written if name == cfg.run_kind]
    assert [(n, p) for n, p, _ in written if p] == [
        (cfg.run_kind, ("tier", "source"))
    ]
    tree = _tree(pyramid_df)
    assert tree.count("Exchange") == 1
    assert tree.count("MapInArrow") == 1
    assert tree.index("MapInArrow") < tree.index("Exchange")
    assert "rangepartitioning" in _plan(pyramid_df)


def test_ann_broadcasts_probes(spark):
    plan = _plan(q_ann_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_gapfill_uses_single_shuffle_side_broadcast(spark):
    plan = _plan(q_gapfill_zero(spark, SF_DIR))
    # the spine join must not blow up into a cartesian product
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_df_cap_bounds_self_join(spark):
    """The shingle self-join must be preceded by the document-frequency
    window filter (df <= CAP) so no join key fans out quadratically —
    and (r05p) every shingle shuffle carries the 8-byte f8 fingerprint,
    with ONE split(text) total (the index-explode shape; a
    transform-built explode re-inlines split into every element_at —
    cloned splits and lambdafunction nodes in the optimized plan,
    r05j), and the capped table localCheckpoint-pinned so the four
    consumer branches (a/b join sides, both size branches) never
    recompute the scan->hash->window pipeline."""
    stage = _ngram_rare_shingles(spark, SF_DIR)
    plan = _plan(stage)
    # the cap filter is a window count over f8 fingerprint partitions
    assert "count(1)" in plan and "windowspecdefinition(f8" in plan
    cap_str = str(_NGRAM_DF_CAP)
    assert f"<= {cap_str}" in plan or f"(df_#" in plan
    assert plan.count("split(") == 1, plan.count("split(")
    assert "lambdafunction" not in plan
    # the full query reads ONLY the materialized checkpoint
    full = _plan(q_ngram_jaccard(spark, SF_DIR))
    assert "Scan parquet" not in full
    assert "ExistingRDD" in full


def test_topk_users_is_distributed_partial_topk(spark):
    """Top-k must plan TakeOrderedAndProject (per-partition partial
    top-k merged on the driver), never a global row_number() window
    sorting every group's count row in one task."""
    plan = _plan(q_topk_users(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # exactly one Window node is allowed: the rank() over the 10 rows
    # TakeOrderedAndProject already collected (formatted explain names
    # each node once in the tree summary)
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1


def test_prefix_sum_queries_zero_unpartitioned_windows(spark):
    """r04: every cumulative/packing query routes through
    prefix.running_sums — no plan may contain an unpartitioned
    WindowExec (the 'No Partition Defined' one-task funnel)."""
    for q in (
        "q_counter_rate",
        "q_global_running_sum",
        "q_pack_sequences",
        "q_pack_tokens",
    ):
        assert_no_unpartitioned_windows(dc.queries()[q](spark, SF_DIR))


def test_interval_join_never_nested_loop(spark):
    """r04: the range-overlap join must plan as a bucket equi-join —
    a raw BETWEEN join degenerates to BroadcastNestedLoopJoin."""
    plan = _plan(q_interval_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_folds_ndocs_into_plan(spark):
    """r04 ADVICE: n_docs is a broadcast 1-row aggregate cross join in
    THE plan, not a separate driver-side .count() action."""
    plan = _plan(q_tfidf_terms(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan


def test_word_sketch_queries_single_exchange(spark):
    """array_distinct dedups words/shingles in-row, so the sketch
    queries need exactly ONE exchange each (their final groupBy) —
    a global distinct would add a second full-width shuffle."""
    for q in ("q_simhash", "q_minhash_signature"):
        plan = _plan(dc.queries()[q](spark, SF_DIR))
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") == 1, (q, tree)


def test_ohlc_bars_single_exchange_no_window(spark):
    """r04: the OHLC encoding turns first/last/min/max into one
    map-side-combinable groupBy — one shuffle of aggregated rows,
    no Window, no Sort anywhere in the plan."""
    plan = _plan(q_ohlc_bars(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "Window" not in tree
    assert "Sort" not in tree


def test_zscore_broadcasts_stats_no_window(spark):
    """r04: the z-score pass must broadcast the tiny per-(type,hour)
    stats table back onto the scan — a sort-merge join or a window
    over raw events would shuffle the full event volume twice."""
    plan = _plan(q_zscore_outliers(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree or "BroadcastExchange" in tree
    assert "Window" not in tree
    assert "SortMergeJoin" not in tree


def test_topn_hours_ranks_aggregated_rows_only(spark):
    """r04: the per-group rank window must sit ABOVE the hourly
    aggregate (bounded rows per group), never over raw events — the
    plan's Window input must be the aggregated relation."""
    plan = _plan(q_topn_hours(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Window" in tree
    win_pos = tree.index("Window")
    agg_positions = [
        i for i in range(len(tree))
        if tree.startswith("HashAggregate", i)
    ]
    # plans print top-down: the aggregate must appear BELOW the window
    assert any(i > win_pos for i in agg_positions), tree


def test_cms_broadcasts_cells_partial_topk(spark):
    """r04b: the CMS probe join must broadcast the 4096-cell sketch
    (never shuffle it against the probes), the top-k must be the
    distributed partial TakeOrderedAndProject, and the token scan must
    prune to the text column only."""
    plan = _plan(q_cms_heavy(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "BroadcastExchange" in tree
    assert "TakeOrderedAndProject" in tree
    assert "SortMergeJoin" not in tree
    assert "ReadSchema: struct<text:string>" in plan


def test_cusum_zero_unpartitioned_windows(spark):
    assert_no_unpartitioned_windows(
        dc.queries()["q_cusum_alarm"](spark, SF_DIR)
    )


def test_rolling_distinct_bounded_expand_broadcast_join(spark):
    """q_rolling_distinct: the 24x fan-out rides on DEDUPED triples and
    the real-hours filter is a broadcast hash join — never a sort-merge
    join or a range self-join over raw events."""
    plan = _plan(q_rolling_distinct(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    # formatted plans print each node twice (tree + detail); the
    # tree form pins exactly one join
    assert plan.count("BroadcastHashJoin Inner BuildRight") == 1
    # explode sits ABOVE a HashAggregate (the dedup), not on the scan
    assert "explode(sequence(" in plan


def test_cagg_hierarchy_single_scan_two_aggregates(spark):
    """q_cagg_hierarchy: daily derives from hourly STATES — one events
    scan, the hourly aggregate, and a re-bucketing aggregate over cagg
    rows only (no second scan, no join)."""
    plan = _plan(q_cagg_hierarchy(spark, SF_DIR))
    # one scan == two mentions (tree + node detail) in formatted plans
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan


def test_acf_prunes_scan_no_windows_no_cartesian(spark):
    """r04e: q_acf_lags pairs AGGREGATED hourly buckets — the events
    scan prunes to (ts, event_type), the spine join is never a
    cartesian, and no window (partitioned or not) appears anywhere."""
    df = dc.queries()["q_acf_lags"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    sch = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "value" not in sch and "props" not in sch
    assert "user_id" not in sch
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree


def test_xcorr_pushes_type_filter_to_scan(spark):
    """r04e: q_xcorr_types reads only the two series' events — the
    event_type IN (...) predicate must reach the parquet scan."""
    plan = _plan(dc.queries()["q_xcorr_types"](spark, SF_DIR))
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "event_type" in pushed


def test_dup_spans_no_pair_join(spark):
    """r04e: substring dedup never joins documents against documents —
    the flagged-window semi-join keys on an 8-byte md5-derived
    fingerprint of the window text (r05: 2.9x less shuffle volume than
    shuffling the strings).  r05j: the Generate explodes the cheap
    index sequence and the window text + hash are built in the flat
    post-explode projection — NO higher-order function anywhere, so
    InferFiltersFromGenerate can't clone the window-build lambda into
    a per-window filter (the 21-split()-node plan that cost 30 s at
    sf0.1, BENCH/NOTES.md r05j)."""
    df = dc.queries()["q_dup_spans"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in opt, "HOF crept back into dup-spans"


def test_novelty_and_leakage_flat_explode_no_pair_join(spark):
    """r05l: the novelty curve and the split-leakage audit inherit the
    dup-span shape from birth — index-sequence Generate, shingle text
    + md5 in the flat post-explode projection (no HOF lambda for
    InferFiltersFromGenerate to clone), and no doc-vs-doc pair join.
    Novelty additionally derives per-doc novel counts by grouping the
    per-fingerprint min(doc_id) — no join back onto the fingerprint
    table."""
    for qn in ("q_ngram_novelty", "q_split_leakage"):
        df = dc.queries()[qn](spark, SF_DIR)
        plan = _plan(df)
        assert "CartesianProduct" not in plan, qn
        assert "BroadcastNestedLoopJoin" not in plan, qn
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in opt, f"HOF crept into {qn}"


def test_source_overlap_pairs_generated_in_row(spark):
    """r04e: the overlap matrix emits source pairs from each shingle's
    collected source-set IN-ROW — no self-join of the shingle table;
    the only joins are the two broadcast total lookups."""
    plan = _plan(dc.queries()["q_source_overlap"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Join") == 2, tree
    assert "BroadcastHashJoin" in tree


def test_sax_window_over_segment_aggregates_only(spark):
    """r04e: the SAX ntile window ranks daily-segment aggregates (two
    reduction layers below raw events), is partitioned by source, and
    the events scan prunes to (ts, event_type)."""
    df = dc.queries()["q_sax_paa"](spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    win_pos = tree.index("Window")
    assert any(
        i > win_pos
        for i in range(len(tree))
        if tree.startswith("HashAggregate", i)
    ), tree
    sch = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "value" not in sch and "props" not in sch


def test_funnel_aggregated_joins_no_windows(spark):
    """r04e: the funnel is k chained (groupBy user -> min -> join)
    passes — no window anywhere, no cartesian, and the events scan
    prunes to (ts, user_id, event_type)."""
    plan = _plan(dc.queries()["q_funnel_steps"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    assert "CartesianProduct" not in plan
    sch = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "props" not in sch and "value" not in sch


def test_cohort_pushes_qualifying_filter_to_scan(spark):
    """r04e: the qualifying-purchase predicate must reach the parquet
    scan, and the retention matrix plan needs no window."""
    plan = _plan(dc.queries()["q_cohort_retention"](spark, SF_DIR))
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "event_type" in pushed and "value" in pushed
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree


def test_interarrival_day_bounded_windows(spark):
    """r04f: the inter-arrival lag windows are partitioned ((type,day)
    for events, (type) for the tiny day-last table) — never
    unpartitioned — and the scan prunes to (ts, event_id, type)."""
    df = dc.queries()["q_interarrival"](spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = _plan(df)
    sch = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "value" not in sch and "props" not in sch


def test_decay_topk_salted_partial_rank(spark):
    """r04f: the per-type top-k ranks within salted (type, user%32)
    partitions first — the plan's window specs include the pmod salt,
    so no task ever sorts a type's full user list."""
    df = dc.queries()["q_decay_topk"](spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "pmod" in plan


def test_markov_single_scan_windows_partitioned(spark):
    """r04f/r05: the transition lag partitions by (user, DAY) — a hot
    user never sorts in one task — with cross-day edges from the
    interarrival-style boundary stitch (lag over the tiny days-per-user
    table, still no join anywhere); the pruned events scan appears once
    per union branch (in-day + stitch), and every window is
    partitioned."""
    df = dc.queries()["q_markov_transitions"](spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert tree.count("Scan parquet") == 2, tree
    # the day bound actually reaches the lag window spec
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(user_id" in opt
    assert opt.count("user_id#") >= 1 and "day" in opt


def test_dup_islands_no_pair_join(spark):
    """r04f: span merging adds one per-doc islands window on top of
    q_dup_spans' linear shape — still no document pair join."""
    df = dc.queries()["q_dup_islands"](spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rfm_zero_unpartitioned_windows_no_rescan(spark):
    """r04f: all three RFM quartile ranks ride ranking.global_rank —
    no bare Window.orderBy over the user-stats table — and the final
    plan contains NO parquet scan at all: every pass (including the
    |users| count) reads the localCheckpoint-backed ranked rows, never
    the purchase events a second time."""
    df = dc.queries()["q_rfm_segments"](spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = _plan(df)
    assert "Scan parquet" not in plan, plan.split("\n\n")[0]


def test_weighted_sample_zero_exchanges(spark):
    """r04f: the importance sampler is pure per-row arithmetic — no
    exchange anywhere in the plan."""
    plan = _plan(dc.queries()["q_weighted_sample"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_funnel_times_no_windows(spark):
    """r04f: the latency profile is joins + groupBys + one in-row
    explode — no window operator in the plan."""
    plan = _plan(dc.queries()["q_funnel_times"](spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree


def test_logbucket_windows_partitioned_scan_pruned(spark):
    """r04f: the cumulative/total windows run per-source over bucket
    aggregates (partitioned), and the scan prunes to (type, value)."""
    df = dc.queries()["q_logbucket_quantile"](spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = _plan(df)
    sch = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "props" not in sch and "user_id" not in sch


def test_span_corruption_windows_partitioned(spark):
    """r04f: the sentinel-island window partitions by user over masked
    rows only — never unpartitioned."""
    assert_no_unpartitioned_windows(
        dc.queries()["q_span_corruption"](spark, SF_DIR)
    )


def test_bloom_probe_corpus_side_shuffle_free(spark):
    """q_bloom_decontaminate: the candidate-corpus branch reaches the
    verification join without any exchange of its own — all hash
    probes are in-row against the single broadcast bloom row."""
    plan = _plan(q_bloom_decontaminate(spark, SF_DIR))
    # one single-row pack + the final per-doc count; the eval-side
    # distinct + bloom build; nothing on the corpus probe path
    assert plan.count("Exchange SinglePartition") <= 1
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_pass1_shuffle_free(spark):
    """The MG candidate pass must run on the scan partitions directly:
    no KEYED Exchange may sit below MapInPandas (the whole point is
    that the full word stream is never shuffled BY KEY — only
    candidates and their partial counts are; the r06 scan fan-out, a
    hash repartition on the unique doc_id when the parquet layout
    cannot feed the cores, is the one allowed exception and never
    fires at 100 TB layouts).  r06 split the query behind a
    localCheckpoint, so the pass-1 pins run on the lazy
    _mg_candidate_counts subtree and the final plan is checked to
    read the checkpointed RDD instead of re-scanning."""
    df = _mg_candidate_counts(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    lines = tree.splitlines()
    (idx,) = [i for i, l in enumerate(lines) if "MapInPandas" in l]
    depth = len(lines[idx]) - len(lines[idx].lstrip())
    for line in lines[idx + 1:]:
        if len(line) - len(line.lstrip()) <= depth and line.strip():
            break
        if "Exchange" in line:
            assert "doc_id" in line, ("keyed exchange under MapInPandas", line)
    # pass 1+2 combined: candidate distinct + broadcast of the marked
    # candidate list + the candidate-or-NULL count aggregate — never a
    # full-word-stream keyed shuffle
    assert tree.count("BroadcastExchange") == 1, tree
    assert tree.count("Exchange") <= 4, tree
    # the materialized query itself reads the checkpoint (Scan
    # ExistingRDD), re-scans nothing, and broadcasts the 1-row total
    final = _plan(q_heavy_hitters_mg(spark, SF_DIR)).split("\n\n")[0]
    assert "ExistingRDD" in final or "LogicalRDD" in final, final
    assert "Scan parquet" not in final, final
    assert "MapInPandas" not in final, final


def test_journey_paths_two_exchanges_no_window(spark):
    """Day-journey assembly is ONE groupBy (in-row sort + trigrams),
    the path count another — and no Window node anywhere (the journey
    unit is (user, day), so nothing needs a running ordinal)."""
    df = q_journey_paths(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    assert tree.count("Exchange") == 2, tree
    assert "Window" not in tree, tree


def test_retention_policy_census_single_pass(spark):
    """The census is localCheckpoint-pinned, so the sweep plan and the
    as-of watermark both read the materialized metadata (two
    ExistingRDD scans) and events is NEVER re-scanned for the max —
    zero parquet scans survive into the final plan."""
    df = q_retention_policy(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    assert tree.count("Scan parquet") == 0, tree
    assert tree.count("Scan ExistingRDD") == 2, tree
    assert tree.count("BroadcastExchange") == 1, tree
    assert_no_unpartitioned_windows(df)


def test_late_arrival_bounded_windows_only(spark):
    """The global ingest-order running max ses the two-level prefix
    machinery: every Window node is partitioned (by the range
    partition id) — no one-task sort at any corpus size."""
    assert_no_unpartitioned_windows(q_late_arrival(spark, SF_DIR))


def test_robust_stats_bounded_windows_broadcast_joins(spark):
    """Both exact-quantile passes window over (source, day) value
    histograms — never an unpartitioned sort.  The MAD query scans
    events exactly ONCE (the checkpointed histogram feeds every later
    pass — zero parquet scans survive into the final plan) and the
    median/MAD tables come back via broadcast joins (sources x days
    rows)."""
    for q in ("q_slo_ribbon", "q_mad_outliers"):
        df = dc.queries()[q](spark, SF_DIR)
        assert_no_unpartitioned_windows(df)
    tree = _plan(q_mad_outliers(spark, SF_DIR)).split("\n\n")[0]
    assert tree.count("Scan parquet") == 0, tree
    # 3 = med join (replayed for the MAD branch and the final branch —
    # both replays read the checkpointed histogram, not events) + mad
    # join; every join is broadcast, nothing event-sized ever shuffles
    assert tree.count("BroadcastHashJoin") == 3, tree
    assert "SortMergeJoin" not in tree, tree


def test_triangle_counts_checkpointed_no_cartesian(spark):
    """The edge set and its orientation are checkpoint-pinned (zero
    parquet scans survive into the enumeration plan) and the wedge/
    closing joins are equi-joins — never a cartesian/nested-loop."""
    df = q_triangle_counts(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    assert tree.count("Scan parquet") == 0, tree
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert_no_unpartitioned_windows(df)


def test_json_props_stacked_aggregate_no_expand(spark):
    """The single-DISTINCT census plans as a stacked aggregate —
    partial (source, k) under final (source) — so exactly two bounded
    exchanges, no Expand, no Window, no Join; raw events never
    shuffle."""
    df = q_json_props(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    assert tree.count("Exchange") == 2, tree
    assert "Expand" not in tree, tree
    assert "Window" not in tree, tree
    assert "Join" not in tree, tree


def test_heartbeat_uptime_one_exchange_partitioned_windows(spark):
    """Liveness islands ride ONE exchange on user_id: the lag and the
    running island sum share the partitioning, and both groupBys
    (island rollup, user rollup) are map-side-combinable on the same
    keys — no second shuffle of event-sized data."""
    df = q_heartbeat_uptime(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree
    assert_no_unpartitioned_windows(df)


def test_zone_map_prune_two_stacked_groupbys(spark):
    """Zone-map census: events -> (source, day) zone maps -> |sources|
    rows, two map-side-combinable groupBys and nothing else — raw rows
    never shuffle, no windows, no joins."""
    df = q_zone_map_prune(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    assert tree.count("Exchange") == 2, tree
    assert "Window" not in tree, tree
    assert "Join" not in tree, tree


def test_forecast_baseline_single_event_scan(spark):
    """The hourly pre-aggregate is localCheckpoint-pinned: both sides
    of the tb-168 self-join read the materialized table, events is
    never scanned twice, and the join is broadcast at test SF — no
    window anywhere."""
    df = q_forecast_baseline(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    assert tree.count("Scan parquet") == 0, tree
    assert "Window" not in tree, tree
    assert "NestedLoop" not in tree, tree


def test_join_cardinality_no_join_no_window(spark):
    """The join-size estimate never runs the join it predicts: the
    plan is two stacked aggregates plus the in-row pair Generate —
    zero Join nodes, zero windows, one parquet scan."""
    df = q_join_cardinality(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    assert "Join" not in tree, tree
    assert "Window" not in tree, tree
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Generate") == 1, tree


def test_peak_concurrency_bounded_windows_no_raw_sort(spark):
    """The sweep-line rides prefix.running_sums: the only Window is
    _pid-partitioned (bounded per-partition sort), the offset table
    comes back by broadcast, and the delta table was checkpointed —
    no global Window.orderBy funnel anywhere."""
    df = q_peak_concurrency(spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    tree = _plan(df).split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 1, tree
    assert "SortMergeJoin" not in tree, tree


def test_ann_recall_single_sort_shared_window(spark):
    """The exact rank and the bucket-restricted running count share one
    (probe_id)-partitioned window sort — exactly 1 Sort and 1 Window
    block in the plan; the probe side arrives by broadcast."""
    df = q_ann_recall(spark, SF_DIR)
    tree = _plan(df).split("\n\n")[0]
    assert tree.count("Sort") == 1, tree
    assert tree.count("Window") == 1, tree
    assert tree.count("Exchange") == 2, tree
    assert_no_unpartitioned_windows(df)


def test_containment_reads_only_checkpointed_shingles(spark):
    """r05q: q_containment shares q_ngram_jaccard's materialized
    rare-shingle stage — the full query must read the checkpoint RDD
    only (no re-scan of the parquet source for any of its branches)."""
    plan = _plan(q_containment(spark, SF_DIR))
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan


def test_bpe_pair_explode_runs_over_vocab_not_corpus(spark):
    """r05q: the adjacent-pair Generate must sit ABOVE the word-count
    aggregate (explode over the distinct vocab, weighted), and the
    top-20 must be a TakeOrderedAndProject — never a global sort."""
    plan = _plan(q_bpe_merge_step(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full Sort node outside TakeOrdered
    tree = plan.split("\n\n")[0]
    gen = tree.index("Generate")
    aggs = [i for i in range(len(tree)) if tree.startswith("HashAggregate", i)]
    # tree prints top-down: TakeOrdered, pair-agg pair, Generate,
    # word-agg pair, scan — the Generate lands between the two
    # aggregate pairs, i.e. after the pair-aggs, before the word-aggs
    assert aggs[0] < aggs[1] < gen < aggs[2] < aggs[3], (gen, aggs)


def test_padding_waste_one_exchange_scan_pruned(spark):
    """r05t: the padding census is one map-side-combinable groupBy —
    exactly one shuffle exchange, no window, no explode — and the scan
    prunes to (text, source)."""
    plan = _plan(q_padding_waste(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree and "Generate" not in tree
    assert tree.count("Exchange") == 1, tree
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {
        "text",
        "source",
    }, m.group(0) if m else plan


def test_shard_assign_flat_hashes_no_explode(spark):
    """r05t: the HRW argmax is 8 flat md5 columns under one greatest()
    — never a corpus x S explode or a window — and the only shuffle of
    corpus-derived rows is the 8-row shard groupBy."""
    plan = _plan(q_shard_assign(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree and "Generate" not in tree
    # tree exchanges: the 8-row shard groupBy, the 1-row total's
    # SinglePartition agg, and its BroadcastExchange — nothing else
    assert tree.count("BroadcastExchange") == 1, tree
    assert tree.count("Exchange") == 3, tree


def test_pareto_front_two_level_partitioned_growing_frames(spark):
    """r05t: TWO skyline windows — the salted local pass then the
    merge over survivors — both partitioned (the salt bounds the
    per-task sort even for a single hot source) and both the
    incremental UNBOUNDED PRECEDING frame shape, never the O(n^2)
    CURRENT->UNBOUNDED FOLLOWING scan."""
    df = q_pareto_front(spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    wins = [l for l in plan.splitlines() if "Window [" in l]
    assert len(wins) == 2, plan
    assert sum("salt" in w for w in wins) == 1, wins
    assert "unboundedfollowing" not in plan.lower(), plan


def test_rrf_fusion_takeordered_no_raw_scan(spark):
    """r05t: both rankings ride ranking.global_rank (checkpointed range
    partitions — the fused plan reads ExistingRDD, not parquet) and the
    top-32 is a TakeOrderedAndProject, never a global sort."""
    df = q_rrf_fusion(spark, SF_DIR)
    assert_no_unpartitioned_windows(df)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Scan parquet" not in plan


def test_lm_surprisal_index_explodes_no_window_pruned_scan(spark):
    """r06v: both ngram streams explode cheap INDEX sequences (no
    transform-built array ever explodes — no lambdafunction survives
    optimization), there is no window anywhere, and the scan prunes
    the documents table to (doc_id, text)."""
    df = q_lm_surprisal(spark, SF_DIR)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree, tree
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in opt, opt
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    for s in schemas:
        assert set(f.split(":")[0] for f in s.split(",")) <= {
            "doc_id",
            "text",
        }, s


def test_dsir_weights_broadcast_lut_bounded_exchanges(spark):
    """r06w: the two distribution tables reach the corpus join as
    BroadcastExchanges (the 10-bit bucket key makes them <= 1024 rows
    at any scale); the only corpus-sized plain exchanges are the two
    map-side LUT groupBys, the per-doc groupBy, and the census — and
    no window or string-keyed shuffle appears."""
    df = q_dsir_weights(spark, SF_DIR)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree, tree
    assert tree.count("BroadcastExchange") == 2, tree
    assert tree.count("Exchange") == 6, tree  # 2 broadcast + 4 plain
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in opt, opt


def test_tier_fidelity_reads_checkpoint_not_parquet(spark):
    """r06v: ONE localCheckpointed sequence build feeds raw and both
    tier renders — the fidelity plan reads ExistingRDD only (the
    sequence window ran once, at checkpoint time), so raw + 2 renders
    never re-run the parquet scan or the sequence sort."""
    df = q_tier_fidelity(spark, SF_DIR)
    plan = _plan(df)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert_no_unpartitioned_windows(df)


def test_delta_join_view_deltas_broadcast(spark):
    """r06x: all four quadrants are present and the three delta
    quadrants each put the batch-sized delta in the broadcast-build
    slot (>= 3 BroadcastExchanges — at tiny sf the size-driven base
    quadrant may broadcast too; the explicit F.broadcast hints pin
    the delta sides regardless of scale)."""
    plan = _plan(q_delta_join_view(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert tree.count("HashJoin") == 4, tree
    assert tree.count("BroadcastExchange") >= 3, tree
    assert "Window" not in tree, tree


def test_pivot_daily_single_aggregate_no_expand(spark):
    """r06y: pivot with pinned values must lower to one map-side-
    combinable aggregate on the day key — exactly one exchange, no
    Expand node, no second scan for distinct pivot values."""
    plan = _plan(q_pivot_daily(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    # pivot lowers to TWO stacked map-side-combinable aggregates
    # ((day, type) counts, then the per-day pivot combine) — the
    # q_json_props single-distinct shape: two bounded exchanges
    assert tree.count("Exchange") == 2, tree
    assert "Expand" not in tree, tree
    assert tree.count("Scan parquet") == 1, tree


def test_unpivot_expand_above_aggregate_only(spark):
    """r06y: the unpivot Expand must sit ABOVE the pivot aggregate
    (bounded |days|-row input, never raw events) and add no exchange
    beyond the pivot's own two."""
    plan = _plan(q_unpivot_metrics(spark, SF_DIR))
    tree = plan.split("\n\n")[0]
    assert "Expand" in tree, tree
    exp_pos = tree.index("Expand")
    agg_positions = [
        i for i in range(len(tree)) if tree.startswith("HashAggregate", i)
    ]
    # plans print top-down: every aggregate is BELOW (after) the Expand
    assert all(i > exp_pos for i in agg_positions), tree
    assert tree.count("Exchange") == 2, tree


def test_bucket_join_no_exchange_under_join(spark, tmp_path):
    """r06z: joining two tables bucketed on the join key (same bucket
    count) must plan a SortMergeJoin with ZERO Exchange below it —
    the write-once-shuffle-never co-location contract — and both
    scans must report their bucket selection."""
    t_o, t_c = "tb_pin_bj_o", "tb_pin_bj_c"
    spark.sql(f"DROP TABLE IF EXISTS {t_o}")
    spark.sql(f"DROP TABLE IF EXISTS {t_c}")
    try:
        a = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        b = spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("w")
        )
        a.write.bucketBy(8, "k").sortBy("k").option(
            "path", str(tmp_path / "a")
        ).saveAsTable(t_o)
        b.write.bucketBy(8, "k").sortBy("k").option(
            "path", str(tmp_path / "b")
        ).saveAsTable(t_c)
        j = spark.table(t_o).join(
            spark.table(t_c).hint("merge"), "k"
        )
        plan = _plan(j)
        tree = plan.split("\n\n")[0]
        assert "SortMergeJoin" in tree, tree
        assert "Exchange" not in tree, tree
        assert "SelectedBucketsCount: 8 out of 8" in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")
