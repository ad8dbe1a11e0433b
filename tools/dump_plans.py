"""Regenerate PLANS.md — .explain("formatted") of the flagship queries.

Usage: python tools/dump_plans.py   (writes /root/repo/PLANS.md)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

HEADER = """# PLANS — physical plans of the flagship queries (.explain("formatted"))

Generated from the live session at sf0.001 (plans are scale-invariant in
shape). What to look for, per SURVEY.md §4: filters/column pruning
pushed into `Scan parquet` (`ReadSchema`/`PushedFilters`), wide
`WholeStageCodegen` spans around the JVM-side stages, Arrow exchange
(`MapInArrow`/`FlatMapGroupsInPandas`) only where the Python
kernels run, and exchanges only at aggregation/write boundaries.
Plan-shape regressions are pinned by tests/test_plans.py.
Regenerate with `python tools/dump_plans.py`.
"""

# query -> one-line commentary on why this plan is the one we want
BLURBS = {
    "q_avg_rollup_t1": (
        "Flagship pooling path: scan -> row_number window (hot-key cap, one "
        "hash exchange reused by the groupBy) -> single MapInArrow node "
        "(udfs.pool_tier) -> explode. Pooling itself never shuffles."
    ),
    "q_continuous_agg": (
        "Salted two-phase aggregate: map-side partial agg inside "
        "WholeStageCodegen, one exchange on the salted key, final combine."
    ),
    "q_gapfill_zero": (
        "Spine join: the sequence()+explode spine stays tiny; AQE plans the "
        "LEFT JOIN with the aggregated side broadcast."
    ),
    "q_ann_topk": (
        "Broadcast the 8-probe side; candidates stream through "
        "WholeStageCodegen; rank window is per-probe."
    ),
    "q_tile_mode_2d": (
        "Grouped 2-D tile pooling: one hash exchange on tile_id, "
        "FlatMapGroupsInPandas, no further shuffle."
    ),
    "q_asof_join": (
        "Point-in-time enrichment WITHOUT a range join: both sides union "
        "into one per-key window (right rows sort first at equal "
        "timestamps), so the whole as-of lookup is one hash exchange + "
        "one sort — no candidate blow-up however wide the time gaps."
    ),
    "q_ngram_jaccard": (
        "Bounded near-dup join: per-doc dedup AND the document-frequency cap "
        "(df <= 64) run as two window functions over ONE exchange keyed on "
        "the 56-bit shingle fingerprint (8-byte longs, never the string); "
        "the capped stage is localCheckpoint-materialized so the self-join "
        "sides and the size aggregate read it once, and no join key can fan "
        "out past CAP^2 rows regardless of corpus size — the skew bound "
        "that survives web-scale stop-phrase shingles."
    ),
    "q_containment": (
        "One-sided subset dedup over the SAME checkpointed fingerprint "
        "stage as q_ngram_jaccard (the plan reads only the ExistingRDD): "
        "identical CAP^2-bounded self-join, asymmetric inter/min(n) "
        "scoring — the quote detector Jaccard's union denominator hides."
    ),
    "q_bpe_merge_step": (
        "Tokenizer-induction argmax: the corpus-sized exchange is the "
        "word-count groupBy (map-side combinable, short keys); the "
        "char-pair Generate runs over the DISTINCT VOCAB only, weighted "
        "by the counts, and the top-20 is a TakeOrderedAndProject — "
        "never a global sort."
    ),
    "q_pareto_front": (
        "Skyline as ONE growing RANGE-frame max per source (UNBOUNDED "
        "PRECEDING -> 1 PRECEDING under n_chars DESC = 'strictly longer "
        "docs'): domination collapses to a single incremental window — "
        "no pair join, no O(n^2) FOLLOWING re-scan, partitioned by "
        "source so no one-task sort."
    ),
    "q_shard_assign": (
        "Rendezvous hashing with ZERO per-doc fan-out: 8 flat md5 weight "
        "columns argmax-encoded under one greatest() inside "
        "WholeStageCodegen (never md5 inside a HOF lambda, never a "
        "corpus x S explode); the only corpus exchange is the 8-row "
        "shard groupBy, the share denominator is a broadcast 1-row agg."
    ),
    "q_max_drawdown": (
        "Running-max drawdown + record census in ONE day-bounded window "
        "pass (ROWS UNBOUNDED PRECEDING -> 1 PRECEDING, never a FOLLOWING "
        "re-scan) feeding a map-side-combinable groupBy — two exchanges "
        "total, partitions bounded by a day of one type's events."
    ),
    "q_source_mixture": (
        "Temperature mixing quotas: the corpus collapses in one map-side "
        "groupBy to |sources| rows; both totals return as broadcast 1-row "
        "aggregates and the largest-remainder row_number runs over the "
        "per-source mixing table only — corpus size never reaches a "
        "window."
    ),
    "q_zipf_slope": (
        "Freq-of-freq slope: the corpus-dominant exchange keys on "
        "(source, 56-bit word fingerprint) — no raw text shuffles; two "
        "further groupBys shrink vocabulary -> <=63 bitlen buckets per "
        "source, and the OLS arithmetic is flat projection over those."
    ),
    "q_blocklist_filter": (
        "Lambda-free term counting: size(ws) - size(array_remove(ws, b)) "
        "per blocklist term, all inside WholeStageCodegen; one map-side-"
        "combinable groupBy — raw docs never shuffle."
    ),
    "q_char_coverage": (
        "SentencePiece coverage knob: linear index-explode + substring "
        "(never a per-doc char array), map-side groupBy to "
        "|langs|x|alphabet| rows, alphabet-bounded coverage window, "
        "broadcast totals join."
    ),
    "q_ab_uplift": (
        "Deterministic md5 arm assignment folded into conditional sums "
        "of ONE map-side-combinable groupBy — the experiment readout is "
        "one exchange over |types| rows whatever the event volume."
    ),
    "q_unigram_entropy": (
        "Per-doc entropy proxy with ZERO exchanges: word counts are "
        "run-lengths of the in-row sorted array folded by one "
        "aggregate() state machine — the whole operator is a single "
        "scan -> project pipeline, embarrassingly parallel over docs."
    ),
    "q_curriculum_order": (
        "Deterministic epoch order via ranking.global_rank: range "
        "partition on (bucket, md5 coin, doc_id), driver-cumulated "
        "offsets broadcast back, rank = offset + bounded in-partition "
        "row_number — no one-task Window.orderBy at any corpus size."
    ),
    "q_knn_purity": (
        "Label-noise audit composed on the bucket-local 1-NN: LSH "
        "bucket join (never a cross join), two broadcast label joins "
        "on 8-byte vec ids, one map-side census groupBy to <= |labels| "
        "rows."
    ),
    "q_nucleus_keys": (
        "Top-p over keys WITHOUT ranking keys: two stacked map-side "
        "groupBys collapse users -> distinct count-values (<= "
        "O(sqrt(2*events)) rows/type), the boundary window runs over "
        "that tiny table, and the exact answer is a ceil division — no "
        "window ever sees a user-sized partition."
    ),
    "q_compaction_plan": (
        "Lakehouse OPTIMIZE planning: one map-side groupBy to "
        "|types|x|days| partition rows, then next-fit job ids from a "
        "calendar-bounded prefix window — the plan for rewriting a "
        "100 TB table's small files never touches row-level data twice."
    ),
    "q_topk_users": (
        "Distributed partial top-k: TakeOrderedAndProject (every partition "
        "keeps its own 10, the driver merges) — never a global row_number "
        "window; the only Window node ranks the 10 already-collected rows."
    ),
    "q_simhash": (
        "In-row word dedup (array_distinct) then 32 vote sums in ONE "
        "exchange; map-side partial aggregation ships ~1 row per doc."
    ),
    "q_decontaminate": (
        "Eval-set n-gram containment as a broadcast LEFT SEMI join: a "
        "candidate shingle matches at most once however many eval docs "
        "hold it — no fan-out, unlike a near-dup self-join."
    ),
    "q_pack_sequences": (
        "Two-level prefix sum: per-bucket partial agg, unbounded window "
        "only over the tiny bucket table, broadcast join back, bounded "
        "within-bucket window — no one-task per-source sort at any "
        "corpus size."
    ),
    "q_tfidf_terms": (
        "tf from one explode+count; df via in-row array_distinct (no "
        "global distinct exchange); vocabulary-side shuffle join; the "
        "top-k window sorts one document's vocabulary per task."
    ),
    "q_tokenize_vocab": (
        "Corpus side stays exploded-flat; the rank window runs over "
        "vocab-sized input only and the ranked vocab broadcasts into "
        "the encode join."
    ),
    "q_quality_filter": (
        "The assembled keep/drop gate: length, stopword-ratio, and "
        "repetition signals as per-row array arithmetic in ONE scan — "
        "zero exchanges anywhere in the plan."
    ),
    "q_acf_lags": (
        "Autocorrelation over AGGREGATED buckets only: scan prunes to "
        "(ts, type), hourly reduce, spine join (broadcast bounds), lag "
        "expand + self equi-join of the filled series, final groupBy — "
        "no window anywhere, every shuffled row is a bucket."
    ),
    "q_interarrival": (
        "Day-bounded lag: per-(type,day) sort for within-day deltas, "
        "max_by day-last reduce, lag over the tiny day table, broadcast "
        "stitch — never one task sorting a type's entire history."
    ),
    "q_pagerank": (
        "Iterative dataflow: edges pinned once (localCheckpoint), each "
        "power-iteration round is one src-keyed join + one dst groupBy "
        "of per-edge contributions — the plan starts from the "
        "checkpointed edge RDD, not a re-derivation."
    ),
    "q_dup_spans": (
        "Substring dedup without a pair join: windows explode in-row, "
        "distinct-doc counts from ONE map-side-combinable groupBy "
        "(array_distinct first), flagged windows semi-join back by "
        "window key — linear in corpus tokens."
    ),
    "q_rfm_segments": (
        "Three global quartile ranks via ranking.global_rank (range "
        "partition + broadcast offsets + bounded sorts) — zero "
        "unpartitioned windows at any user cardinality."
    ),
    "q_markov_transitions": (
        "Per-user lag window (high-cardinality partitioning), map-side "
        "groupBy to the |types|^2 table, full-frame totals window over "
        "that tiny table — one scan, no join."
    ),
    "q_peak_concurrency": (
        "Distributed sweep-line: interval deltas pre-aggregate to "
        "(t, d, net) map-side BEFORE any shuffle, the global running "
        "sum rides prefix.running_sums (range partition + broadcast "
        "offsets, _pid-partitioned window only), final day groupBy — "
        "no single-task timeline sort at any event volume."
    ),
    "q_join_cardinality": (
        "Join-size estimation with ZERO Join nodes: per-key histogram "
        "groupBy, in-row C(t,2) pair products (the pair table the join "
        "would produce never materializes), tiny final groupBy."
    ),
    "q_ann_recall": (
        "Exact rank and bucket-restricted rank share ONE (probe_id) "
        "window sort — row_number + running conditional count over the "
        "identical frame; probes broadcast, per-probe aggregate "
        "map-side combinable."
    ),
    "q_peak_rate": (
        "Peak sliding-60s rate: raw events collapse FIRST to per-second "
        "counts (map-side combinable, <= 86400 rows per type-day), then "
        "ONE bounded RANGE [59 PRECEDING, CURRENT ROW] frame (two-pointer "
        "O(n), never the O(n^2) FOLLOWING shape), earliest-second argmax "
        "via the roll*2^20 encoding — one map-side max, no second window."
    ),
    "q_lang_margin": (
        "Language-ID margin census: marker scores staged ONCE in a lower "
        "projection (12 replace() nodes — never the exponential "
        "CASE-inlining), best/runner-up via one in-row sort_array, ONE "
        "census groupBy to <= 5 rows."
    ),
    "q_editdist_verify": (
        "Char-level candidate verify: Levenshtein computes ONLY on LSH "
        "band candidates (no corpus pair join); 256-char prefixes project "
        "BELOW the pair join so the shuffle ships bounded strings; "
        "levenshtein() is JVM codegen with O(256^2)-bounded per-pair work."
    ),
    "q_native_resolution": (
        "Tier-planner native-resolution census: deltas ride the "
        "day-bounded stitched lag (no one-task type-history sort), "
        "collapse to (type, delta_s) in ONE map-side-combinable groupBy, "
        "mode via the argmax encoding cnt*2^40 + (2^40-1-delta_s) — a "
        "second map-side groupBy, never a window."
    ),
    "q_bm25_topk": (
        "Integer-exact BM25: term filter BEFORE the explode aggregate "
        "(corpus exchange carries only matching words), tf joins doc "
        "lengths on the 8-byte doc_id (narrow shuffle join — both sides "
        "corpus-sized for common terms, never a broadcast), |terms|-row "
        "df and 1-row (N, L) tables broadcast, top-k is a "
        "TakeOrderedAndProject — never a global sort."
    ),
    "q_tier_plan": (
        "Tier-width recommender: q_native_resolution's census (two "
        "map-side groupBys) + one more per-source aggregate over the "
        "events scan, joined broadcast at <= |sources| rows; the ladder "
        "pick is a flat 7-branch CASE inside WholeStageCodegen."
    ),
    "q_value_drift": (
        "Distribution-shift monitor: ONE corpus-sized map-side-"
        "combinable (type, era, bin) census groupBy; shares, gaps, TVD "
        "and the worst-bin argmax all run on |types|*|bins|*2 rows — "
        "never a window, never a second corpus exchange."
    ),
    "q_image_quality": (
        "Image-quality gate: two chained MapInPandas (synthesize PGM, "
        "parse + numpy histogram/contrast per Arrow batch) straight off "
        "the scan — ZERO exchanges (plan-pinned in test_r06c_ops)."
    ),
    "q_pricing_summary": (
        "Q1-topology pricing summary: the cutoff predicate pushed into "
        "the parquet scan (PushedFilters), 6-column ReadSchema pruning, "
        "ONE map-side-combinable groupBy on the 2x2-value key — whole "
        "query is scan -> partial agg -> one exchange -> final agg."
    ),
    "q_region_revenue": (
        "Q5-topology star join: region/nation/supplier broadcast below "
        "the fact joins; orders-customer and lineitem-orders shuffle on "
        "8-byte keys; the same-nation predicate rides the supplier join "
        "condition (never a cartesian)."
    ),
    "q_ship_priority": (
        "Q3-topology top-k: LEFT SEMI join onto the filtered customer "
        "keys (narrow probe rows — no customer column emitted), 8-byte "
        "orderkey join, one per-order groupBy, top-10 via "
        "TakeOrderedAndProject with the unique-orderkey tie-break."
    ),
    "q_order_count_dist": (
        "Q13-topology outer-join aggregate: orders collapse to "
        "(custkey, n) map-side FIRST, then LEFT join onto customer keys "
        "(aggregate-then-join — 16-byte rows through the outer join); "
        "coalesce(0) keeps the zero-order bucket; final histogram "
        "groupBy runs on |distinct counts| values."
    ),
    "q_big_orders": (
        "Q18-topology HAVING + join-back: ONE map-side-combinable "
        "orderkey groupBy, the > threshold filter drops ~80% of groups "
        "BEFORE any join, survivors decorate from orders/customer on "
        "8-byte keys (AQE free to broadcast the filtered side)."
    ),
    "q_promo_share": (
        "Q14-topology conditional aggregate over a join: lineitem joins "
        "a projected (partkey, is_promo) broadcast table; promo and "
        "total sums fold in the SAME map-side groupBy — exactly one "
        "hash exchange in the whole plan (pinned)."
    ),
    "q_returned_revenue": (
        "Q10-topology aggregate-then-decorate: both fact scans "
        "pre-filtered (PushedFilters), orderkey shuffle join, revenue "
        "collapses per custkey BEFORE the customer join, nation "
        "broadcast, top-20 via TakeOrderedAndProject."
    ),
    "q_bracket_revenue": (
        "Q19-topology disjunctive brackets: the brand/size half filters "
        "part BELOW the broadcast join (the brackets' union is tiny at "
        "any scale), the qty half evaluates post-join against the "
        "matched build row; single count+revenue row out."
    ),
    "q_small_qty_revenue": (
        "Q17-topology decorrelated scalar subquery: the brand filter "
        "broadcasts and prunes BOTH the per-part stats and the probe; "
        "the 20%-of-average threshold cross-multiplies to "
        "((qty * n_lines) * 5) < sum_qty and rides the join condition "
        "— exact integers, no float division anywhere."
    ),
    "q_top_supplier": (
        "Q15-topology max-with-ties: per-supplier map-side groupBy "
        "over the date-pruned scan, global max as a broadcast 1-row "
        "aggregate (no Window node in the plan), supplier dim "
        "broadcast onto the winner row(s)."
    ),
    "q_idle_rich_customers": (
        "Q22-topology anti join + scalar average: broadcast 1-row "
        "(count, sum) aggregate, cross-multiplied above-average "
        "filter, LEFT ANTI join against the date-pruned orders scan, "
        "one final map-side-combinable nation groupBy."
    ),
    "q_loop_detect": (
        "Trailing-cycle loop detector: entirely in-row (scan -> "
        "project -> filter, ZERO exchanges); the split array binds "
        "once as a lambda variable so projection collapse cannot "
        "inline the regex split into every slice compare."
    ),
    "q_audio_downsample": (
        "PCM16 pooling through the production avg kernel: one "
        "MapInPandas, zero shuffles; per-channel kernels.avg_pool "
        "with the token tiers' exact signed render semantics."
    ),
    "q_image_downsample": (
        "COUNTLESS 2x2 mode pooling on real decoded PGM images: one "
        "MapInPandas, zero shuffles; the reference's actual image use "
        "case end-to-end (odd-edge trailing pad + countless-if chain)."
    ),
    "q_winsorized_stats": (
        "Winsorize from the domain-bounded census: ONE corpus exchange "
        "(the census groupBy); cumulative + total + bounds all ride "
        "windows over the same census partitioning — no join back, "
        "no second events scan."
    ),
    "q_ship_latency": (
        "Join + domain-bounded census quantiles: one orderkey shuffle "
        "join of projected columns, one map-side census groupBy, "
        "quantile windows over census rows bounded by the lag domain."
    ),
    "q_late_order_census": (
        "Q4-topology EXISTS: LEFT SEMI join carrying the cross-table "
        "lag condition on the join itself; quarter predicate pushed "
        "into the orders scan; one final map-side groupBy."
    ),
    "q_image_phash": (
        "Perceptual aHash: one MapInPandas, zero shuffles; 8x8 "
        "nearest resize + mean threshold, bits packed into two uint32 "
        "halves (ANSI-safe)."
    ),
    "q_image_equalize": (
        "Histogram equalization: one MapInPandas, zero shuffles; "
        "integer cdf formula, full-range [0,255] output invariant."
    ),
    "q_phash_dup_pairs": (
        "Banded hamming near-dup: the corpus collapses to DISTINCT "
        "64-bit hashes first (linear, never quadratic on identical-hash "
        "groups), 4x16-bit bands join GROUPS not rows, pigeonhole makes "
        "hamming<=3 recall structurally total."
    ),
    "q_forecast_revenue": (
        "TPC-H Q6 topology: single scan-filter-aggregate where EVERY "
        "predicate (year range, discount bracket, quantity cap) reaches "
        "the parquet scan as a PushedFilter; the groupBy-free aggregate "
        "exchanges exactly one row."
    ),
    "q_pq_encode": (
        "Product-quantization encode: entirely in-row (zero exchanges); "
        "per-subspace distance folds keep the Catalyst tree under the "
        "512-term codegen cliff; float parity by construction."
    ),
    "q_pq_search": (
        "PQ ADC top-k: 8 LUT lookups per vector instead of 64 "
        "multiplies, all-integer scoring, TakeOrderedAndProject top-20 "
        "— zero exchanges before the final top-k."
    ),
    "q_nation_trade": (
        "TPC-H Q7 topology: nation filters collapse into the dims "
        "FIRST (supplier broadcasts; customer shuffles on the 8-byte "
        "custkey — NOT broadcastable at 100 TB), ship-year window "
        "pushed into the lineitem scan, ONE map-side groupBy to <=4 "
        "rows."
    ),
    "q_market_share": (
        "TPC-H Q8 topology: part-type broadcast under lineitem, region "
        "as a LEFT SEMI custkey join, conditional + total sums fold in "
        "ONE map-side groupBy (one pass, no second scan)."
    ),
    "q_parttype_profit": (
        "TPC-H Q9 topology: substring-pruned part broadcast, "
        "supplier+nation broadcast as one dim, orders joined on the "
        "8-byte orderkey, ONE final map-side groupBy — the broadcast "
        "dims add zero exchanges."
    ),
    "q_value_concentration": (
        "TPC-H Q11 topology: per-part value in ONE map-side groupBy, "
        "the global (total, n_parts) as a broadcast 1-row aggregate — "
        "never a window — integer HAVING threshold."
    ),
    "q_supplier_diversity": (
        "TPC-H Q16 topology: dims pruned BEFORE their broadcast, "
        "blocklist rides LEFT ANTI, and the corpus collapses to "
        "distinct 5-tuples map-side so only the bounded table pays the "
        "two-distinct-column Expand."
    ),
    "q_sole_late_supplier": (
        "TPC-H Q21 topology: the EXISTS + NOT-EXISTS double "
        "correlation decorrelates into TWO map-side-combinable "
        "groupBys — never a self-join per subquery, never a window."
    ),
    "q_cheapest_supplier": (
        "TPC-H Q2 topology: the correlated min decorrelates into a "
        "per-part aggregate equality-joined back (ties emerge); dims "
        "broadcast, corpus collapses to (part, supplier) quotes in ONE "
        "map-side groupBy."
    ),
    "q_dominant_supplier": (
        "TPC-H Q20 topology: marked-part dim broadcasts, THREE bounded "
        "map-side groupBys (collapse -> per-part totals -> winner "
        "census), pure-integer 2x-mean threshold."
    ),
    "q_tier_fidelity": (
        "Pyramid information-loss QA: one localCheckpointed sequence "
        "build feeds raw + both tier renders (real pooling kernel); "
        "each tier joins raw on the (user, window) composite key, "
        "census folds map-side to one row per tier."
    ),
    "q_pivot_daily": (
        "Native pivot with pinned values: two stacked map-side-"
        "combinable aggregates ((day,type) then per-day combine) — "
        "bounded exchanges, no Expand, no distinct-collection "
        "pre-scan."
    ),
    "q_unpivot_metrics": (
        "Unpivot's Expand sits above the pivot aggregate — 5x row "
        "multiplication over the bounded |days|-row wide table, never "
        "the corpus; zero added exchanges."
    ),
    "q_snapshot_diff": (
        "Dataset-versioning diff: both snapshots reduce to (8-byte "
        "key, 8-byte content hash, source) before the FULL OUTER join "
        "— the one corpus exchange never carries text; census folds "
        "map-side to sources x 4 rows."
    ),
    "q_delta_join_view": (
        "Delta-join bilinear identity: the base quadrant is the one "
        "shuffle join; all three delta quadrants carry the batch-sized "
        "delta as a BroadcastExchange build side — maintenance cost "
        "O(|delta|) exchanged rows."
    ),
    "q_dsir_weights": (
        "DSIR distribution matching: both ngram distributions fold "
        "map-side onto the 10-bit bucket key (<=1024 rows, broadcast "
        "at any scale); the corpus occurrence stream pays exactly ONE "
        "exchange — the per-doc groupBy."
    ),
    "q_lm_surprisal": (
        "CCNet-style LM fluency census: unigram/bigram counts are two "
        "map-side fingerprint groupBys; the corpus occurrence stream "
        "pays ONE 8-byte-keyed shuffle join (bh -> scored distinct "
        "bigram) plus the per-doc groupBy; the deci-bit census folds "
        "map-side to ~10 rows. No strings cross any exchange."
    ),
    "q_priority_mix": (
        "TPC-H Q12 topology: ship-year predicate in PushedFilters, "
        "size-driven orders join on the 8-byte orderkey, BOTH branch "
        "counts fold in ONE map-side-combinable groupBy to 3 rows."
    ),
}


def main() -> int:
    from tinybrain_spark import driver_contract as dc
    from tinybrain_spark.session import get_spark

    spark = get_spark("dump-plans", master="local[8]", shuffle_partitions=8)
    qs = dc.queries()
    out = [HEADER]
    for name, blurb in BLURBS.items():
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"\n## {name}\n\n{blurb}\n\n```\n{plan.rstrip()}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path} ({len(BLURBS)} plans)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
