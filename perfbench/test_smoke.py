"""Smoke test of the benchmark itself (not part of the repo's tests/):

    python3 -m pytest perfbench/test_smoke.py -q

Pins the metric names, units and result schema on --tiny runs, checks
BENCHMARK.json against metrics.py, and shows that a corrupted output is
counted in failed_share.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import metrics as M  # noqa: E402
from harness import Checks  # noqa: E402


def _expected(trace: int) -> dict[str, str]:
    if trace:
        return {n: u for n, u, _b in M.per_layer()}
    return {n: u for n, u, _b, _bound in M.END_TO_END}


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in spec["end_to_end"]] == M.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        M.per_layer()
    assert [w["name"] for w in spec["workloads"]] == ["pyramid", "registry"]


@pytest.mark.parametrize("workload,trace", [
    ("pyramid", 0), ("pyramid", 1), ("registry", 1),
])
def test_tiny_run_schema(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = _expected(trace)
    assert set(out["metrics"]) == set(want)
    for name, m in out["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == want[name]
        assert isinstance(m["value"], float)
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())
    else:
        assert out["metrics"]["failed_share"]["value"] == 0.0
        assert 0.9 <= out["metrics"]["trace.coverage"]["value"] <= 1.0


def test_corrupted_tier_row_is_counted(tmp_path):
    """One wrong token in one sampled tier row -> one failed check."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import pyramid
    from tinybrain_spark import kernels as K

    avg, _mode = pyramid._configs()
    rng = np.random.default_rng(0)
    ids = ["doc_0000000000", "doc_0000000001"]
    tokens = rng.integers(0, 256, (2, pyramid.N_TOK)).astype(np.int32)
    base = tmp_path / "base"
    base.mkdir()
    pq.write_table(pa.table({"doc_id": ids, "tokens": list(tokens)}),
                   base / "part-0.parquet")
    wh = tmp_path / "wh"
    for tier in range(1, avg.num_tiers + 1):
        rows = [K.pool("avg", t, 4, avg.num_tiers)[tier - 1].copy() for t in tokens]
        if tier == 2:
            rows[1][0] += 1  # the corruption
        d = wh / avg.name(tier) / "source=src_00"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": ids, "tokens": rows}), d / "part-0.parquet")
    stats = {t: {"points_out": 2 * pyramid.N_TOK // 4**t} for t in (1, 2, 3)}

    b = types.SimpleNamespace(checks=Checks())
    pyramid._check(b, avg, stats, str(wh), str(base), 2, ids)
    assert b.checks.failed == 1
    assert b.checks.notes == ["avg tier 2 token arrays"]
    assert b.checks.failed_share == 1 / b.checks.attempted > 0
