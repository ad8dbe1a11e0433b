"""The ingest phase of the pyramid workload: micro-batches folded into
a continuous aggregate while the retention pyramid is served, then one
maintenance pass.

The pyramid workload's avg input table is the ingest base: it carries
many ``time_bucket``s per source and is split into micro-batches (one
parquet directory each), and the avg pyramid its last timed cycle built
is the pyramid served.  Set-up folds the last batch into a warm-up
aggregate beside the warm-up pyramids and serves the warm-up pyramid.
After the timed pyramid cycles the phase folds batch 0 into a fresh
aggregate (untimed), then runs ``CYCLES`` ingest cycles: fold the next
batch with ``aggregates.update_continuous_aggregate``, then two
``serving.read_series`` calls, one routed to a materialized tier, one
that needs a residual pooling step.  One maintenance pass follows:
gap-fill (zero) -> Gorilla encode -> decode and verify ->
``retention.enforce_pyramid_retention`` on a copy of the pyramid.  Here
the catalog serves many small partition overwrites and pruned reads;
``aggregates``, ``serving``, ``gapfill``, ``compress`` and
``retention`` are measured only in this phase.

None of it is in the pyramid workload's ``cycle_s``: its figures are
per-layer metrics of the traced run.  It was a workload of its own,
but a run is mostly per-job fixed cost on 4 shared cores, and three
workloads' runs did not fit the run budget.
"""

from __future__ import annotations

import shutil
import time

import numpy as np

from harness import median, nproc
from perlayer import job_total, span_total, tree_size, under

N_TOK = 256
BATCHES = 16  # the last one is the warm-up batch
BUCKETS = 256
SERVE_SPAN = 32  # buckets per served range
CYCLES = 6
# a fold's wall keeps falling for about five folds after the JVM starts
# (JIT), so set-up folds this often before anything is timed
WARM_FOLDS = 6
WARM_SERVES = 2
AGG = "cagg"
VALUE_COLS = ["n_docs", "n_points", "token_sum", "token_min", "token_max"]
# tier 1 keeps the newest 128 buckets, tier 2 the newest 192, tier 3 all
KEEP = {1: 128, 2: 192}


def write_base(b, path: str, n_docs: int) -> None:
    """The avg input table: ``BUCKETS`` time buckets per source, one
    parquet directory per micro-batch."""
    from pyspark.sql import functions as F

    from tinybrain_spark.datagen import generate, with_time_bucket

    per = n_docs // BATCHES
    with_time_bucket(
        generate(b.spark, n_docs=n_docs, n_tok=N_TOK, seed=b.seed,
                 num_partitions=2 * nproc()),
        buckets_per_source=BUCKETS,
    ).withColumn(
        "batch", (F.substring("doc_id", 5, 10).cast("long") / per).cast("int")
    ).write.mode("overwrite").partitionBy("batch").parquet(path)


def prepare(b, base_path: str, cfg) -> None:
    """Seeded serve requests, one per batch."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    b.base_path, b.avg_cfg = base_path, cfg
    sources = sorted(pc.unique(ds.dataset(base_path, partitioning="hive")
                               .to_table(columns=["source"])["source"]).to_pylist())
    rng = np.random.default_rng([b.seed, 0x16])
    b.requests = [
        (sources[int(rng.integers(0, len(sources)))], int(lo))
        for lo in rng.integers(0, BUCKETS - SERVE_SPAN, BATCHES)
    ]


def _batch(b, k: int):
    return b.spark.read.parquet(f"{b.base_path}/batch={k}")


def _serve(b, resolution: int, source: str, lo: int) -> list:
    from tinybrain_spark import serving

    df = serving.read_series(b.engine, b.avg_cfg, None, resolution,
                             sources=[source], bucket_range=(lo, lo + SERVE_SPAN - 1))
    return df.select("doc_id", "tokens").collect()


def _fold(b, catalog, k: int) -> None:
    from tinybrain_spark import aggregates

    b.checks.operation(
        lambda: aggregates.update_continuous_aggregate(catalog, AGG, _batch(b, k)),
        f"fold {k}")


def _serves(b, k: int) -> None:
    source, lo = b.requests[k]
    for resolution in (16, 256):  # tier 2; tier 3 plus one residual step
        t0 = time.perf_counter()
        with b.tracer.span("serving.serve", resolution=resolution):
            rows = b.checks.operation(lambda: _serve(b, resolution, source, lo),
                                      f"serve {resolution}")
        b.serve_walls.append(time.perf_counter() - t0)
        b.served.append((resolution, rows or []))


def _cycle(b, catalog, k: int) -> None:
    t0 = time.perf_counter()
    with b.tracer.span("aggregates.fold"):
        _fold(b, catalog, k)
    b.fold_walls.append(time.perf_counter() - t0)
    _serves(b, k)


def warm_folds(b) -> None:
    """The warm-up batch folded into a warm-up aggregate: the first fold
    creates it, the rest take the merge path every timed fold takes."""
    from tinybrain_spark.catalog import Catalog

    catalog = Catalog(b.spark, b.scratch("warm-agg"))
    for _ in range(WARM_FOLDS):
        _fold(b, catalog, BATCHES - 1)


def warm_serves(b, warehouse: str) -> None:
    """The warm-up batch's request served from the warm-up pyramid."""
    from tinybrain_spark.rollup import RollupEngine

    b.engine = RollupEngine(b.spark, warehouse)
    b.fold_walls, b.serve_walls, b.served = [], [], []
    for _ in range(WARM_SERVES):
        _serves(b, BATCHES - 1)


def run(b, warehouse: str) -> None:
    """The phase, on the pyramid under ``warehouse``: a fresh aggregate
    (batch 0 creates it untimed, so every timed fold takes the same
    merge path), ``CYCLES`` ingest cycles, one maintenance pass."""
    from tinybrain_spark.catalog import Catalog
    from tinybrain_spark.rollup import RollupEngine

    b.engine = RollupEngine(b.spark, warehouse)
    b.catalog = Catalog(b.spark, b.scratch("agg"))
    _fold(b, b.catalog, 0)
    b.fold_walls, b.serve_walls, b.served = [], [], []
    b.ingest_cycles = 0
    for k in range(1, CYCLES + 1):
        with b.tracer.span("ingest.cycle"):
            _cycle(b, b.catalog, k)
        b.ingest_cycles += 1
    with b.tracer.span("maintain"):
        maintain(b)


def maintain(b) -> None:
    """Gap-fill, encode, decode and verify, retention; ``maintain_s``
    is the sum of those steps (the pyramid copy is not timed)."""
    import pyarrow.dataset as ds

    from tinybrain_spark import compress, gapfill, retention
    from tinybrain_spark.catalog import Catalog

    m = b.maint = {}
    agg = b.catalog.read(AGG)
    t0 = time.perf_counter()
    with b.tracer.span("gapfill.fill"):
        filled = b.checks.operation(
            lambda: gapfill.gap_fill(agg, ["source"], "time_bucket", VALUE_COLS,
                                     policy="zero").collect(), "gap_fill")
    m["fill_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with b.tracer.span("compress.encode"):
        blobs = b.checks.operation(
            lambda: compress.encode_series_table(
                b.spark.createDataFrame(filled), "token_sum").collect(), "encode")
    m["encode_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with b.tracer.span("compress.decode"):
        decoded = b.checks.operation(
            lambda: compress.decode_series_table(
                b.spark.createDataFrame(blobs, compress.BLOB_SCHEMA)).collect(),
            "decode")
    m["decode_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    want = {(r["source"], r["time_bucket"], r["token_sum"]) for r in filled}
    got = {(r["source"], r["time_bucket"], r["token_sum"]) for r in decoded}
    b.checks.check(got == want and len(decoded) == len(filled),
                   "decoded series equal the encoder input")
    m["verify_s"] = time.perf_counter() - t0
    m["filled_rows"] = len(filled)
    points = sum(r["n_points"] for r in blobs)
    m["bytes_per_point"] = sum(len(r["blob"]) for r in blobs) / max(1, points)

    cfg = b.avg_cfg
    copy = b.scratch("retention")
    shutil.rmtree(copy)
    shutil.copytree(b.engine.catalog.base_path, copy)
    catalog = Catalog(b.spark, copy)
    before = {t: ds.dataset(catalog.path(cfg.name(t)), partitioning="hive").count_rows()
              for t in range(1, cfg.num_tiers + 1)}
    t0 = time.perf_counter()
    with b.tracer.span("retention.enforce"):
        res = b.checks.operation(
            lambda: retention.enforce_pyramid_retention(
                catalog, cfg.run_kind, cfg.num_tiers,
                retention.RetentionPolicy(max_age=KEEP)), "retention")
    m["enforce_s"] = time.perf_counter() - t0
    res = res or {}
    m["rows_dropped"] = sum(r["rows_dropped"] for r in res.values())
    b.checks.check(
        len(res) == cfg.num_tiers and all(
            r["rows_dropped"] + r["rows_kept"] == before[t] for t, r in res.items()
        ) and m["rows_dropped"] > 0,
        "retention kept + dropped equals the rows before it ran")
    b.maintain_s = sum(m[k] for k in ("fill_s", "encode_s", "decode_s", "verify_s",
                                      "enforce_s"))


def verify(b) -> None:
    """The aggregate against one ``aggregate_batch`` over the union of
    the folded batches; served rows against single-node kernels."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from tinybrain_spark import kernels as K
    from tinybrain_spark.aggregates import aggregate_batch

    folded = b.spark.read.parquet(*[f"{b.base_path}/batch={k}"
                                    for k in range(b.ingest_cycles + 1)])
    key = ["source", "time_bucket", *VALUE_COLS]
    want = {tuple(r) for r in aggregate_batch(folded).select(*key).collect()}
    got = [tuple(r) for r in b.catalog.read(AGG).select(*key).collect()]
    b.agg_rows = len(got)
    b.checks.check(set(got) == want and len(got) == len(want),
                   "aggregate equals aggregate_batch over the folded batches")

    ids = sorted({r["doc_id"] for _res, rows in b.served for r in rows})
    base = ds.dataset(b.base_path, partitioning="hive").to_table(
        columns=["doc_id", "tokens"], filter=pc.field("doc_id").isin(ids)
    ).to_pylist()
    pyramid = {r["doc_id"]: K.pool("avg", np.asarray(r["tokens"], dtype=np.int32), 4, 4)
               for r in base}
    for resolution, rows in b.served:
        tier = {16: 2, 256: 4}[resolution]
        b.checks.check(
            len(rows) > 0 and all(
                np.array_equal(np.asarray(r["tokens"]), pyramid[r["doc_id"]][tier - 1])
                for r in rows
            ), f"served rows at resolution {resolution}")


def layers(b, jobs: list[dict]) -> dict[str, float]:
    t, n, within = b.tracer, b.ingest_cycles, "ingest.cycle"
    m = b.maint
    serve_jobs = [j for j in jobs if under(t, j["span"], "serving.serve")
                  and under(t, j["span"], within)]
    rows_out = sum(len(rows) for _res, rows in b.served)
    agg_bytes, agg_files = tree_size(b.catalog.base_path)
    return {
        "fold_p50_s": median(b.fold_walls),
        "aggregates.fold_tail_s": max(b.fold_walls),
        "serve_p50_s": median(b.serve_walls),
        "serving.serve_tail_s": max(b.serve_walls),
        "maintain_s": b.maintain_s,
        "ingest.catalog.write_s": span_total(t, "catalog.write", within) / n,
        "ingest.catalog.files_written": agg_files,
        "ingest.catalog.bytes_written": agg_bytes,
        "ingest.udfs.python_s": job_total(t, jobs, "python.python_s", within) / n,
        "aggregates.shuffle_write_bytes": (
            job_total(t, jobs, "shuffle_write_bytes", within, "aggregates.fold") / n
        ),
        "aggregates.jobs_per_fold": (
            job_total(t, jobs, "jobs", within, "aggregates.fold") / n
        ),
        "serving.rows_scanned_per_row": (
            sum(j["scan"].get("rows", 0.0) for j in serve_jobs) / max(1, rows_out)
        ),
        "serving.files_scanned": (
            sum(j["scan"].get("files", 0.0) for j in serve_jobs) / max(1, len(b.served))
        ),
        "gapfill.fill_s": m["fill_s"],
        "gapfill.rows_added": m["filled_rows"] - b.agg_rows,
        "compress.encode_s": m["encode_s"],
        "compress.decode_s": m["decode_s"],
        "compress.bytes_per_point": m["bytes_per_point"],
        "retention.enforce_s": m["enforce_s"],
        "retention.rows_dropped": m["rows_dropped"],
    }


def wrap(tracer) -> None:
    from tinybrain_spark import aggregates, compress, gapfill, retention, serving

    tracer.wrap(aggregates, "update_continuous_aggregate",
                "aggregates.update_continuous_aggregate")
    tracer.wrap(serving, "read_series", "serving.read_series")
    tracer.wrap(gapfill, "gap_fill", "gapfill.gap_fill")
    tracer.wrap(compress, "encode_series_table", "compress.encode_series_table")
    tracer.wrap(compress, "decode_series_table", "compress.decode_series_table")
    tracer.wrap(retention, "enforce_pyramid_retention",
                "retention.enforce_pyramid_retention")
