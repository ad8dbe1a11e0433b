"""The benchmark's metric names, units and directions.

Every workload prints every metric of a set: the end-to-end set with
tracing off, the per-layer set with tracing on.  A per-layer metric a
workload does not exercise reads 0.  BENCHMARK.json mirrors these lists
(the smoke test holds the two together).
"""

from __future__ import annotations

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cycle_s", "s", "lower", 0.25),
]

_LAYERS = [
    # each workload's headline figures, from the traced run
    ("pyramid_avg_points_per_s", "points/s", "higher"),
    ("pyramid_mode_points_per_s", "points/s", "higher"),
    ("registry_total_s", "s", "lower"),
    ("fold_p50_s", "s", "lower"),
    ("serve_p50_s", "s", "lower"),
    ("maintain_s", "s", "lower"),
    ("failed_share", "ratio", "lower"),
    # peak RSS moves with the number of live Python workers, too much
    # from run to run to gate on; reported here, split by process kind
    ("peak_rss_mb", "MB", "lower"),
    ("memory.driver_peak_mb", "MB", "lower"),
    ("memory.jvm_peak_mb", "MB", "lower"),
    ("memory.workers_peak_mb", "MB", "lower"),
    ("trace.cycle_s", "s", "lower"),
    ("trace.coverage", "ratio", "higher"),
    ("setup.session_start_s", "s", "lower"),
    ("setup.datagen_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("rollup.avg_tier1_s", "s", "lower"),
    ("rollup.avg_tier2_s", "s", "lower"),
    ("rollup.avg_tier3_s", "s", "lower"),
    ("rollup.mode_tier1_s", "s", "lower"),
    ("rollup.mode_tier2_s", "s", "lower"),
    ("udfs.python_s", "s", "lower"),
    ("udfs.python_init_s", "s", "lower"),
    ("udfs.sent_bytes", "B", "lower"),
    ("udfs.received_bytes", "B", "lower"),
    ("kernels.avg_s", "s", "lower"),
    ("kernels.mode_s", "s", "lower"),
    ("partitioning.shuffle_write_bytes", "B", "lower"),
    ("partitioning.shuffle_read_bytes", "B", "lower"),
    ("catalog.write_s", "s", "lower"),
    ("catalog.bytes_written", "B", "lower"),
    ("catalog.files_written", "count", "lower"),
    ("checkpoint.record_tier_s", "s", "lower"),
    ("checkpoint.completed_sources_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.exchanges", "count", "lower"),
    ("driver_contract.construct_s", "s", "lower"),
    ("driver_contract.eager_jobs", "count", "lower"),
    ("catalyst.plan_s", "s", "lower"),
    ("registry.exec_s", "s", "lower"),
    ("ingest.catalog.write_s", "s", "lower"),
    ("ingest.catalog.files_written", "count", "lower"),
    ("ingest.catalog.bytes_written", "B", "lower"),
    ("ingest.udfs.python_s", "s", "lower"),
    ("aggregates.shuffle_write_bytes", "B", "lower"),
    ("aggregates.jobs_per_fold", "count", "lower"),
    ("aggregates.fold_tail_s", "s", "lower"),
    ("serving.rows_scanned_per_row", "ratio", "lower"),
    ("serving.files_scanned", "count", "lower"),
    ("serving.serve_tail_s", "s", "lower"),
    ("gapfill.fill_s", "s", "lower"),
    ("gapfill.rows_added", "count", "lower"),
    ("compress.encode_s", "s", "lower"),
    ("compress.decode_s", "s", "lower"),
    ("compress.bytes_per_point", "B/point", "lower"),
    ("retention.enforce_s", "s", "lower"),
    ("retention.rows_dropped", "count", "lower"),
]


# The registry runs the headline leaves (bench.HEADLINE, imported, so
# order and names follow the frozen bench) that the roadmap's open items
# name: the 7 rollup leaves on the pandas-UDF pooling path, the Gorilla
# round trip (encode + verify fusion), simhash (planning-heavy),
# PageRank and RFM (eager checkpoint jobs during construction) and
# pack_tokens (an eager local checkpoint inside a library API).  All 36
# do not fit the run budget: each leaf runs twice per run (warm pass,
# timed pass), about 2 s per leaf on 4 shared cores.
REGISTRY = {
    "q_avg_rollup_t2", "q_avg_rollup_t5", "q_avg_float_t2", "q_avg_sparse_t1",
    "q_mode_rollup_t1", "q_mode8_rollup_t1", "q_max_rollup_t1",
    "q_gorilla_roundtrip", "q_simhash", "q_pack_tokens", "q_pagerank",
    "q_rfm_segments",
}


def leaves() -> list[str]:
    """The registry leaves, in the frozen bench's headline order."""
    import bench

    out = [q for q in bench.HEADLINE if q in REGISTRY]
    if len(out) != len(REGISTRY):
        raise ValueError(f"not headline leaves: {sorted(REGISTRY - set(out))}")
    return out


def leaf_metric(query: str) -> str:
    return f"leaf.{query}_s"


def per_layer() -> list[tuple[str, str, str]]:
    return _LAYERS + [(leaf_metric(q), "s", "lower") for q in leaves()]
