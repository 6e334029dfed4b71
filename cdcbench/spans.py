"""Spans for the traced run, recorded from the benchmark's side of each
call into the engine.

A span is ``(id, name, parent, op, start, end)``. While a span is open,
its id rides on the Spark local property ``cdcbench.span``, so each
Spark job in the event log names the innermost span that launched it.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

PROP = "cdcbench.span"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        #: wall seconds spent in the tracer's own bookkeeping
        self.self_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op=None):
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name, "op": op,
               "parent": stack[-1] if stack else None}
        prev = self.sc.getLocalProperty(PROP)
        self.sc.setLocalProperty(PROP, str(rec["id"]))
        stack.append(rec["id"])
        self.self_s += time.perf_counter() - t0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(PROP, prev)
            with self._lock:
                self.spans.append(rec)
            self.self_s += time.perf_counter() - t1

    def wrap(self, obj, attr: str, name: str, op_arg: str | None = None) -> None:
        """Replace ``obj.attr`` with a traced wrapper. ``op_arg`` names a
        keyword whose value becomes the span's op id (a batch id)."""
        inner = getattr(obj, attr)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            op = kwargs.get(op_arg) if op_arg else None
            if op_arg and op is None and len(args) > 1:
                op = args[1]
            with self.span(name, op) as rec:
                out = inner(*args, **kwargs)
                if isinstance(out, str):
                    rec["result"] = out
                return out

        setattr(obj, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _lines(paths):
    for path in paths:
        with open(path) as f:
            yield from f


def read_event_log(paths: list[str]) -> dict[int, dict]:
    """Jobs from the files of a Spark event log: ``{job_id: {"span",
    "batch", "submit", "end", "tasks"}}`` with times in epoch seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "span": int(props[PROP]) if props.get(PROP) else None,
                "batch": props.get("streaming.sql.batchId"),
                "submit": ev["Submission Time"] / 1000,
                "end": None,
                "tasks": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid in jobs:
                jobs[jid]["tasks"] += 1
    return jobs
