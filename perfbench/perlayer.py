"""Per-layer numbers from a traced run: span totals and status-store
job totals, restricted to the measured cycles and divided by their
count, so every figure is "per cycle" whatever the run length."""

from __future__ import annotations

import os

SPARK_KEYS = ("stages", "tasks", "task_s", "gc_s", "spill_bytes",
              "shuffle_write_bytes", "exchanges")


def under(tracer, span_id: int, name: str) -> bool:
    return any(s["name"] == name for s in tracer.ancestors(span_id))


def span_total(tracer, name: str, within: str = "cycle") -> float:
    """Summed duration of spans called ``name`` inside ``within``."""
    return sum(
        s["end"] - s["start"]
        for s in tracer.named(name)
        if under(tracer, s["id"], within)
    )


def job_total(tracer, jobs: list[dict], key: str, within: str = "cycle",
              sub: str | None = None) -> float:
    """Sum of a job field (or Python/scan metric as 'python.x'/'scan.x')
    over jobs submitted inside ``within`` (and ``sub`` when given)."""
    total = 0.0
    for j in jobs:
        if not under(tracer, j["span"], within):
            continue
        if sub is not None and not under(tracer, j["span"], sub):
            continue
        if "." in key:
            group, field = key.split(".")
            total += j[group].get(field, 0.0)
        elif key == "jobs":
            total += 1
        else:
            total += j[key]
    return total


def common_layers(b, jobs: list[dict]) -> dict[str, float]:
    """The per-cycle figures every workload reports."""
    t, n = b.tracer, max(1, len(b.cycles))
    out = {f"spark.{k}": job_total(t, jobs, k) / n for k in ("jobs", *SPARK_KEYS)}
    for field in ("python_s", "python_init_s", "sent_bytes", "received_bytes"):
        out[f"udfs.{field}"] = job_total(t, jobs, f"python.{field}") / n
    out["catalog.write_s"] = span_total(t, "catalog.write") / n
    out["checkpoint.record_tier_s"] = span_total(t, "checkpoint.record_tier") / n
    out["checkpoint.completed_sources_s"] = (
        span_total(t, "checkpoint.completed_sources") / n
    )
    return out


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, f))
                files += 1
    return size, files
