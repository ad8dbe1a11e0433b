"""Profile helper over Spark's in-process status stores.

Both stores exist with ``spark.ui.enabled=false``: the core
``AppStatusStore`` (jobs, stages, task-time and shuffle totals) and the
SQL ``SQLAppStatusStore`` (per-execution plan graph and SQL metrics).
The core lists are serialized in one JVM call each with the Jackson
mapper Spark already ships; SQL metrics arrive as the rendered strings
Spark shows in its UI and are parsed back into seconds, bytes or
counts.

Python-boundary metrics are read from the execution the write actually
ran (found through its jobs), never from a DataFrame's own
``queryExecution()``, whose metrics stay at zero.
"""

from __future__ import annotations

import json
import re

PYTHON_NODES = (
    "MapInArrow",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "ArrowWindowPython",
    "AggregateInPandas",
    "PythonMapInArrow",
)

PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "received_bytes",
}

SCAN_METRICS = {
    "number of output rows": "rows",
    "number of files read": "files",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "PiB": 2.0**50,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """'total (min, med, max ...)\\n4.5 s (1.1 s, ...)' -> 4.5;
    '2.0 MiB' -> 2097152.0; '2,000' -> 2000.0."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    def __init__(self, spark):
        jvm = spark._jvm
        self._core = spark._jsparkSession.sparkContext().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala.__getattr__("MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._core.jobsList(None)))

    def stages(self) -> dict[int, dict]:
        """Per stage id, summed over attempts."""
        raw = json.loads(
            self._mapper.writeValueAsString(
                self._core.stageList(None, False, False, self._no_quantiles, None)
            )
        )
        out: dict[int, dict] = {}
        for s in raw:
            acc = out.setdefault(s["stageId"], {
                "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
                "shuffle_read_bytes": 0, "spill_bytes": 0,
            })
            acc["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            acc["task_s"] += s["executorRunTime"] / 1e3
            acc["gc_s"] += s["jvmGcTime"] / 1e3
            acc["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            acc["shuffle_read_bytes"] += s["shuffleReadBytes"]
            acc["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        return out

    def executions(self, known_jobs: set[int]) -> list[dict]:
        """SQL executions that ran at least one job in ``known_jobs``:
        {"jobs": [...], "python": {...}, "scan": {...}, "exchanges": n}."""
        out = []
        for e in _iter(self._sql.executionsList()):
            jobs = [int(j) for j in _iter(e.jobs().keys())]
            if not known_jobs.intersection(jobs):
                continue
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            rec = {"jobs": jobs, "python": {}, "scan": {}, "exchanges": 0}
            for node in _iter(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                if name == "Exchange":
                    rec["exchanges"] += 1
                if name in PYTHON_NODES:
                    wanted, key = PYTHON_METRICS, "python"
                elif name.startswith("Scan parquet"):
                    wanted, key = SCAN_METRICS, "scan"
                else:
                    continue
                for m in _iter(node.metrics()):
                    field = wanted.get(m.name())
                    v = values.get(m.accumulatorId())
                    if field is None or not v.isDefined():
                        continue
                    bucket = rec[key]
                    bucket[field] = bucket.get(field, 0.0) + parse_metric(v.get())
            out.append(rec)
        return out


def attribute(tracer, store: StatusStore) -> list[dict]:
    """Every job that ran inside a span of this run, with its span id,
    stage totals and (through its SQL execution) Python and scan
    metrics; an execution's metrics go to its first job only."""
    stages = store.stages()
    jobs, seen = [], set()
    for j in sorted(store.jobs(), key=lambda j: j["jobId"]):
        sid = tracer.span_of_group(j.get("jobGroup"))
        # a stage reused by a later job is listed there as skipped:
        # count its totals once, for the job that ran it
        own = [s for s in j["stageIds"] if s not in seen]
        seen.update(own)
        if sid is None:
            continue
        rec = {"job": j["jobId"], "span": sid, "stages": len(own),
               "python": {}, "scan": {}, "exchanges": 0}
        for key in ("tasks", "task_s", "gc_s", "shuffle_write_bytes",
                    "shuffle_read_bytes", "spill_bytes"):
            rec[key] = sum(stages.get(s, {}).get(key, 0) for s in own)
        jobs.append(rec)
    by_id = {j["job"]: j for j in jobs}
    for e in store.executions(set(by_id)):
        first = by_id[min(j for j in e["jobs"] if j in by_id)]
        first["python"], first["scan"] = e["python"], e["scan"]
        first["exchanges"] = e["exchanges"]
    return jobs
