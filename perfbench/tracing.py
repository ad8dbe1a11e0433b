"""In-memory spans for the traced benchmark run.

A span is (id, name, start, end, parent) plus free attributes; every
span of one run shares the tracer's ``run_id``.  While a span is open
its id is the Spark job group of the calling thread, so the status
store can attribute each job (and the SQL execution that ran it) to
the innermost span that submitted it.

Layers are traced from the benchmark's side only: ``wrap`` replaces a
module or class attribute with a timing wrapper and ``restore`` puts
the original back.  With ``enabled=False`` spans cost one no-op
context manager and nothing is wrapped, so the untraced run measures
the program as shipped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._wrapped: list[tuple[object, str, object]] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Attach the SparkContext whose job group follows the spans."""
        self._sc = sc

    def group_of(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        # spans nest on one stack: work that set-up hands to helper
        # threads is not traced
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(JOB_GROUP)
            self._sc.setLocalProperty(JOB_GROUP, self.group_of(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(JOB_GROUP, prev)

    def traced(self, fn, name: str, attrs=None):
        """``fn`` wrapped so each call is one span named ``name``;
        ``attrs(*args, **kwargs)`` may label the span from the call."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)

        return wrapper

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper (no-op when off)."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._wrapped.append((owner, attr, orig))
        setattr(owner, attr, self.traced(orig, name, attrs))

    def restore(self) -> None:
        while self._wrapped:
            owner, attr, orig = self._wrapped.pop()
            setattr(owner, attr, orig)

    # -- analysis ---------------------------------------------------------

    def children(self) -> dict[int | None, list[dict]]:
        out: dict[int | None, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["parent"], []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def ancestors(self, span_id: int) -> list[dict]:
        """The span and its ancestors, innermost first."""
        out = []
        sid: int | None = span_id
        while sid is not None:
            s = self.spans[sid]
            out.append(s)
            sid = s["parent"]
        return out

    def span_of_group(self, group: str | None) -> int | None:
        prefix = f"{self.run_id}:"
        if not group or not group.startswith(prefix):
            return None
        return int(group[len(prefix):])

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, t0: float) -> None:
        """One JSON file, times relative to ``t0`` (the run's start)."""
        selfs = self.self_times()
        rows = []
        for s in self.spans:
            r = dict(s)
            r["start"] = round(s["start"] - t0, 6)
            r["end"] = round(s["end"] - t0, 6)
            r["self_s"] = round(selfs[s["id"]], 6)
            rows.append(r)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f)
