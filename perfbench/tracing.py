"""Span recording for the traced run.

The benchmark wraps the public functions of each layer from its own
files: ``Tracer.wrap`` swaps a module (or dict) attribute for a
wrapper that records a span — name, start, end, parent span and
operation id — and ``Tracer.restore`` puts the originals back. Spans
live in memory and are written out once, when the run ends.

A span's self time is its duration minus the durations of its child
spans (children on one thread are nested, so they never overlap).
Spans recorded on a server thread have no parent there; they carry
the operation id of the client request that caused them, and the
client's root span counts them as its children.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable

# (span id, name, start, end, parent span id, operation id)
Span = tuple[int, str, float, float, "int | None", "str | None"]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.default_op: str | None = None
        self._tls = threading.local()
        self._ids = itertools.count()
        self._patches: list[tuple[Any, str, Any]] = []

    # ---- operation ids
    def set_op(self, op: str | None) -> None:
        self._tls.op = op

    def op(self) -> str | None:
        return getattr(self._tls, "op", None) or self.default_op

    # ---- spans
    @contextmanager
    def span(self, name: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append((sid, name, start, end, parent, self.op()))

    def wrapper(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner: Any, attr: str, value: Any) -> None:
        """Set ``owner.attr`` (or ``owner[attr]`` for a dict) until
        ``restore``."""
        if isinstance(owner, dict):
            self._patches.append((owner, attr, owner[attr]))
            owner[attr] = value
        else:
            self._patches.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, value)

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]``) by a wrapper
        that records a span named ``name`` around each call."""
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        self.patch(owner, attr, self.wrapper(name, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # ---- analysis
    def self_times(self) -> dict[int, float]:
        """span id → duration minus the durations of its children."""
        child = defaultdict(float)
        for sid, _, s, e, parent, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        return {sid: (e - s) - child[sid] for sid, _, s, e, _, _ in self.spans}

    def layer_totals(self, ops: set[str] | None = None, root: str | None = None) -> dict[str, dict[str, float]]:
        """layer → {"self": seconds, "time": seconds, "calls": n}
        summed over spans (of ``ops`` when given). The layer of a span
        is its name up to the last dot. With ``root`` set, a span of
        that name is the client-side root of its operation: the
        operation's parentless server-thread spans are subtracted
        from its self time."""
        selft = self.self_times()
        top = defaultdict(float)
        if root is not None:
            for sid, name, s, e, parent, op in self.spans:
                if parent is None and name != root:
                    top[op] += e - s
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"self": 0.0, "time": 0.0, "calls": 0})
        for sid, name, s, e, parent, op in self.spans:
            if ops is not None and op not in ops:
                continue
            layer = name.rsplit(".", 1)[0]
            own = selft[sid] - (top[op] if name == root else 0.0)
            out[layer]["self"] += own
            out[layer]["time"] += e - s
            out[layer]["calls"] += 1
        return out

    def name_totals(self, name: str, ops: set[str] | None = None) -> tuple[int, float]:
        """(calls, total seconds) of the spans named ``name`` (of
        ``ops`` when given)."""
        spans = [e - s for _, n, s, e, _, op in self.spans
                 if n == name and (ops is None or op in ops)]
        return len(spans), sum(spans)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, s, e, parent, op in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": s, "end": e,
                                    "parent": parent, "op": op}) + "\n")


# ------------------------------------------------------------ Spark jobs

def spark_jobs(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages the Spark status REST API still holds."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    jobs = get("/jobs")
    stages = {s["stageId"]: s for s in get("/stages") if s.get("attemptId", 0) == 0}
    return jobs, stages


def job_figures(jobs: list[dict], stages: dict[int, dict]) -> dict[int, dict]:
    """job id → {group, tasks, shuffle_bytes}. A stage's shuffle
    writes count once, for the first job that ran it (later jobs skip
    the stage and reuse its output)."""
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    out = {}
    for j in jobs:
        shuffle = sum(
            stages[sid].get("shuffleWriteBytes", 0)
            for sid in j["stageIds"]
            if owner.get(sid) == j["jobId"] and sid in stages
        )
        out[j["jobId"]] = {
            "group": j.get("jobGroup"),
            "tasks": j.get("numCompletedTasks", 0),
            "shuffle_bytes": shuffle,
        }
    return out
