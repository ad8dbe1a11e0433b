"""registry workload: 12 of the 36 headline driver-contract leaves
(``metrics.leaves``, taken from ``bench.HEADLINE`` so names and order
cannot drift from the frozen bench).  The leaves read three tables,
written here from the seed in the layout and schema of the sf0.01 test
fixtures (one parquet file, one row group each): ``events``,
``documents`` and ``embeddings``.  One cycle builds every leaf once and runs it to a
noop sink; its wall is the sum of the leaf walls.  At this size the
per-query fixed cost (construction, eager checkpoint jobs, Catalyst
planning, fan-out exchanges) dominates, and the seven rollup leaves
take the pandas-UDF pooling path on ragged per-user arrays.

Correctness: the untimed warm pass collects every leaf and compares
it with its DuckDB oracle on the same files (row count, columns and an
order-insensitive value compare, as ``tools/check_oracle.py`` does).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import metrics as M
from harness import median, nproc
from perlayer import job_total, span_total

# sf0.01 fixture sizes; --tiny uses sf0.001's
SIZES = {"full": (10_000, 150, 500, 500), "tiny": (1_000, 15, 500, 500)}
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a the join hash row batch scan customer column filter small slow "
    "merge order vector line data table agg value key stream window spark "
    "group part big sort query fast"
).split()
N_SOURCES = 20
DUP_SHARE = 0.05
DIMS, LABELS = 64, 10
# the hourly continuous aggregate q_gorilla_roundtrip encodes, one
# point per (event type, hour)
ROUNDTRIP_POINTS = (
    "SELECT count(*) FROM (SELECT DISTINCT event_type, date_trunc('hour', ts) "
    "FROM events)"
)


def write_tables(out: str, seed: int, size: str) -> None:
    """events / documents / embeddings parquet under ``out``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_ev, n_users, n_docs, n_vecs = SIZES[size]
    rng = np.random.default_rng([seed, 0x7B])

    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(start + rng.integers(0, span_us, n_ev))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_SHARE:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]
            texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, LABELS, n_vecs)
    centers = rng.standard_normal((LABELS, DIMS))
    vecs = centers[labels] + 0.5 * rng.standard_normal((n_vecs, DIMS))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, table in (("events", events), ("documents", documents),
                        ("embeddings", embeddings)):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


def datagen(b) -> None:
    b.sf_dir = b.scratch("sf")
    write_tables(b.sf_dir, b.seed, "tiny" if b.tiny else "full")


def warmup(b) -> None:
    """The untimed pass: every leaf collected and checked against its
    DuckDB oracle on the same generated files."""
    import duckdb

    from tinybrain_spark import driver_contract as dc
    from tools.check_oracle import compare

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(b.sf_dir, t + '.parquet')}'"
        )
    qs, oracles = dc.queries(), dc.oracle_sql()
    # set-up only: the leaves run concurrently (the cores idle through
    # most of a fixed-cost-bound leaf); the timed cycles run one by one
    with ThreadPoolExecutor(max_workers=nproc()) as pool:
        results = {
            name: pool.submit(lambda q: qs[q](b.spark, b.sf_dir).toPandas(), name)
            for name in M.leaves()
        }
    for name in M.leaves():
        got = b.checks.operation(results[name].result, f"{name} collect")
        if got is None:
            continue
        if name == "q_gorilla_roundtrip":  # no oracle: blob sizes are not SQL
            points = con.execute(ROUNDTRIP_POINTS).fetchone()[0]
            b.checks.check(bool(got["roundtrip_ok"].all())
                           and int(got["n_points"].sum()) == points,
                           f"{name} roundtrip of {points} points")
            continue
        issues = compare(got, con.execute(oracles[name]).df())
        b.checks.check(not issues, f"{name} oracle: {'; '.join(issues)}")
    con.close()


def _leaf(b, build) -> None:
    df = build(b.spark, b.sf_dir)
    if b.tracer.enabled:
        with b.tracer.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
    with b.tracer.span("registry.exec"):
        df.write.format("noop").mode("overwrite").save()


def measure(b) -> None:
    from tinybrain_spark import driver_contract as dc

    b.leaf_walls = {q: [] for q in M.leaves()}
    while not b.cycles or sum(b.cycles) < b.seconds:
        qs = dc.queries()  # rebuilt per pass: pyspark memoizes per DataFrame
        total = 0.0
        with b.tracer.span("cycle"):
            for name in M.leaves():
                build = b.tracer.traced(qs[name], "driver_contract.construct")
                t0 = time.perf_counter()
                with b.tracer.span("leaf", query=name):
                    b.checks.operation(lambda: _leaf(b, build), name)
                wall = time.perf_counter() - t0
                b.leaf_walls[name].append(wall)
                total += wall
        b.cycles.append(total)


def verify(b) -> None:
    """Checked against the oracles in the warm pass."""


def layers(b, jobs: list[dict]) -> dict[str, float]:
    t, n = b.tracer, len(b.cycles)
    out = {M.leaf_metric(q): median(w) for q, w in b.leaf_walls.items()}
    out["registry_total_s"] = median(b.cycles)
    out["driver_contract.construct_s"] = span_total(t, "driver_contract.construct") / n
    out["driver_contract.eager_jobs"] = (
        job_total(t, jobs, "jobs", sub="driver_contract.construct") / n
    )
    out["catalyst.plan_s"] = span_total(t, "catalyst.plan") / n
    out["registry.exec_s"] = span_total(t, "registry.exec") / n
    return out


def wrap(tracer) -> None:
    """Leaf builders are traced per call in ``measure``."""
