"""pyramid workload: the retention pyramid, the paper's product.

One cycle builds the tiered avg pyramid (w=4, 3 tiers, persisted
accumulator) over uniform int32 tokens and the tiered mode pyramid
(w=4, 2 tiers) over run-length categorical tokens, each with
``RollupEngine.run_pyramid`` into a fresh warehouse.  The work is the
Arrow boundary, the kernels, the ``cluster_for_write`` exchange and
the catalog writes; planning and query construction barely figure, so
a fixed-cost cut elsewhere should leave this workload unchanged.

After the timed cycles, the ingest phase (``ingest.py``) folds
micro-batches of the avg input table into a continuous aggregate and
serves the last avg pyramid; its figures are per-layer only.
"""

from __future__ import annotations

import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import ingest
from harness import median, nproc
from perlayer import job_total, tree_size, under

N_TOK = 256
N_DOCS, TINY_DOCS = 16_384, 2_000
WARM_DOCS = 1_024
SAMPLE_ROWS = 16


def _configs():
    from tinybrain_spark.rollup import RollupConfig

    return (
        RollupConfig(kernel="avg", window=4, num_tiers=3, run_kind="avg"),
        RollupConfig(kernel="mode", window=4, num_tiers=2, run_kind="mode"),
    )


def _points_per_doc(cfg) -> int:
    return sum(N_TOK // cfg.window**t for t in range(1, cfg.num_tiers + 1))


def _write(b, kind: str) -> None:
    from tinybrain_spark.datagen import generate

    path = b.scratch(f"seq-{kind}")
    if kind == "avg":  # the ingest phase's base too
        ingest.write_base(b, path, b.n_docs)
    else:
        generate(b.spark, n_docs=b.n_docs, n_tok=N_TOK, seed=b.seed, categorical=True,
                 num_partitions=2 * nproc()).write.mode("overwrite").parquet(path)
    b.tables[kind] = path


def datagen(b) -> None:
    """Writes the two input tables at once (set-up only: on 4 cores a
    run's wall is mostly per-job fixed cost, which overlaps)."""
    b.n_docs = TINY_DOCS if b.tiny else N_DOCS
    b.tables = {}
    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(lambda kind: _write(b, kind), ("avg", "mode")))
    ingest.prepare(b, b.tables["avg"], _configs()[0])
    rng = np.random.default_rng(b.seed)
    b.sample = sorted(
        f"doc_{i:010d}" for i in rng.choice(b.n_docs, SAMPLE_ROWS, replace=False)
    )


def _build(b, cfg, table: str, n_docs: int | None = None) -> tuple[float, dict, str]:
    """One pyramid into a fresh warehouse; ``n_docs`` keeps only the
    first that many docs."""
    from pyspark.sql import functions as F

    from tinybrain_spark.rollup import RollupEngine

    warehouse = b.scratch(f"wh-{cfg.kernel}")
    engine = RollupEngine(b.spark, warehouse)
    df = b.spark.read.parquet(table)  # rebuilt per run: pyspark memoizes per object
    if n_docs is not None:
        df = df.where(F.col("doc_id") < f"doc_{n_docs:010d}")
    t0 = time.perf_counter()
    stats = b.checks.operation(lambda: engine.run_pyramid(df, cfg),
                               f"run_pyramid {cfg.kernel}")
    return time.perf_counter() - t0, stats or {}, warehouse


def _check(b, cfg, stats: dict, warehouse: str, table: str, n_docs: int,
           sample: list[str]) -> None:
    """Point totals against the known counts; a fixed sample of rows
    from every tier against single-node ``kernels.pool``."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from tinybrain_spark import kernels as K

    points = sum(s["points_out"] for s in stats.values())
    if not b.checks.check(points == n_docs * _points_per_doc(cfg),
                          f"{cfg.kernel} points {points}"):
        return  # the build failed or lost rows: no tiers to sample
    base = ds.dataset(table).to_table(
        columns=["doc_id", "tokens"], filter=pc.field("doc_id").isin(sample)
    ).to_pylist()
    want = {
        r["doc_id"]: K.pool(cfg.kernel, np.asarray(r["tokens"], dtype=np.int32),
                            cfg.window, cfg.num_tiers)
        for r in base
    }
    b.checks.check(len(want) == len(sample), f"{cfg.kernel} sample rows")
    for tier in range(1, cfg.num_tiers + 1):
        got = ds.dataset(f"{warehouse}/{cfg.name(tier)}", partitioning="hive").to_table(
            columns=["doc_id", "tokens"], filter=pc.field("doc_id").isin(sample)
        ).to_pylist()
        ok = len(got) == len(sample) and all(
            np.array_equal(np.asarray(r["tokens"]), want[r["doc_id"]][tier - 1])
            for r in got
        )
        b.checks.check(ok, f"{cfg.kernel} tier {tier} token arrays")


def warmup(b) -> None:
    """Both pyramids on the first ``WARM_DOCS`` docs of their tables and
    the ingest warm-up folds, all at once; checks the pyramids, then
    serves the warm-up avg pyramid."""
    with ThreadPoolExecutor(max_workers=3) as pool:
        folds = pool.submit(ingest.warm_folds, b)
        builds = [(cfg, pool.submit(_build, b, cfg, b.tables[cfg.kernel], WARM_DOCS))
                  for cfg in _configs()]
    folds.result()
    for cfg, fut in builds:
        _wall, stats, wh = fut.result()
        _check(b, cfg, stats, wh, b.tables[cfg.kernel], WARM_DOCS,
               ["doc_0000000000"])
        if cfg.kernel == "avg":
            ingest.warm_serves(b, wh)
        shutil.rmtree(wh)


def measure(b) -> None:
    """Pyramid cycles for ``--seconds``, then the ingest phase on the
    last avg pyramid."""
    b.walls = {"avg": [], "mode": []}
    b.points = {}
    b.warehouse_size = []
    served = None  # the last avg warehouse, kept for the ingest phase
    while not b.cycles or sum(b.cycles) < b.seconds:
        wall, sizes = 0.0, (0, 0)
        with b.tracer.span("cycle"):
            for cfg in _configs():
                table = b.tables[cfg.kernel]
                with b.tracer.span(f"pyramid.{cfg.kernel}"):
                    w, stats, wh = _build(b, cfg, table)
                wall += w
                b.walls[cfg.kernel].append(w)
                b.points[cfg.kernel] = sum(s["points_out"] for s in stats.values())
                if b.tracer.enabled:
                    size = tree_size(wh)
                    sizes = (sizes[0] + size[0], sizes[1] + size[1])
                _check(b, cfg, stats, wh, table, b.n_docs, b.sample)
                if cfg.kernel == "avg":
                    wh, served = served, wh
                if wh is not None:
                    shutil.rmtree(wh)
        b.cycles.append(wall)
        b.warehouse_size.append(sizes)
    with b.tracer.span("ingest"):
        ingest.run(b, served)


def kernel_floor(b, kind: str, num_tiers: int) -> float:
    """Single-thread ``kernels.pool`` over the whole input table."""
    import pyarrow.parquet as pq

    from tinybrain_spark import kernels as K

    col = pq.read_table(b.tables[kind], columns=["tokens"]).column("tokens")
    mat = np.asarray(col.combine_chunks().values, dtype=np.int32).reshape(-1, N_TOK)
    t0 = time.perf_counter()
    K.pool(kind, mat, 4, num_tiers)
    return time.perf_counter() - t0


def layers(b, jobs: list[dict]) -> dict[str, float]:
    t, n = b.tracer, len(b.cycles)
    out = {}
    for kind in ("avg", "mode"):
        out[f"pyramid_{kind}_points_per_s"] = b.points[kind] / median(b.walls[kind])
    for s in t.named("rollup.run_tier"):
        if not under(t, s["id"], "cycle"):
            continue
        key = f"rollup.{s['kernel']}_tier{s['tier']}_s"
        out.setdefault(key, []).append(s["end"] - s["start"])
    out.update({k: median(v) for k, v in out.items() if isinstance(v, list)})
    out["kernels.avg_s"] = kernel_floor(b, "avg", 3)
    out["kernels.mode_s"] = kernel_floor(b, "mode", 2)
    for field in ("shuffle_write_bytes", "shuffle_read_bytes"):
        out[f"partitioning.{field}"] = (
            job_total(t, jobs, field, sub="rollup.run_tier") / n
        )
    out["catalog.bytes_written"] = median([s[0] for s in b.warehouse_size])
    out["catalog.files_written"] = median([s[1] for s in b.warehouse_size])
    out.update(ingest.layers(b, jobs))
    return out


def wrap(tracer) -> None:
    from tinybrain_spark.rollup import RollupEngine

    tracer.wrap(RollupEngine, "run_tier", "rollup.run_tier",
                attrs=lambda self, df, config, tier, **kw: {
                    "kernel": config.kernel, "tier": tier})
    ingest.wrap(tracer)


def verify(b) -> None:
    """Every pyramid cycle checked its own outputs; the ingest phase's
    are checked here."""
    ingest.verify(b)
