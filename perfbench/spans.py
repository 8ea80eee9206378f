"""Span recorder for the traced run.

A span has a name, a layer (the module it stands for), start and end
(``time.perf_counter``, which is CLOCK_MONOTONIC and so comparable
across processes), a parent span and the run id.  Spans stay in memory
and are written out when the run ends.

Spark work is attributed to a span through a job group the tracer sets
around the call; :func:`spark_counters` then reads jobs and stages from
``statusTracker`` and input, shuffle and spill bytes from the local
status REST API.

Wrapping is done from the benchmark's side: :meth:`Tracer.wrap`
replaces a module attribute (the name a caller imported) with a
recording wrapper, so nothing inside the package changes.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        #: parent for spans opened on threads with no open span (the
        #: streaming foreachBatch callback thread)
        self.adopt_parent: int | None = None
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, *, group: bool = True, adopt: bool = False):
        """Record the enclosed block.  ``group`` runs its Spark jobs under
        a job group of its own; ``adopt`` makes it the parent of spans
        opened meanwhile on threads with no open span of their own."""
        stack = self._stack()
        parent = stack[-1] if stack else self.adopt_parent
        with self._lock:
            sid = next(self._ids)
        sc = None
        if group:
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
        gid = f"perfbench-{self.run_id}-{sid}" if sc is not None else None
        prev = sc.getLocalProperty(_GROUP) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(_GROUP, gid)
        stack.append(sid)
        adopted = self.adopt_parent
        if adopt:
            self.adopt_parent = sid
        record = {"id": sid, "name": name, "layer": layer, "parent": parent,
                  "run_id": self.run_id, "group": gid}
        record["start"] = time.perf_counter()
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            stack.pop()
            self.adopt_parent = adopted
            if sc is not None:
                sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(record)

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None) -> dict:
        """Record a span measured elsewhere (e.g. by a child process)."""
        with self._lock:
            record = {"id": next(self._ids), "name": name, "layer": layer,
                      "parent": parent, "run_id": self.run_id, "group": None,
                      "start": start, "end": end}
            self.spans.append(record)
        return record

    def wrap(self, owner, attr: str, name: str, layer: str) -> None:
        """Replace ``owner.attr`` (a module's imported name, or a method)
        with a wrapper that records a span around each call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        # a classmethod read from its class is a bound method: keep it bound
        classmethod_ = inspect.isclass(owner) and inspect.ismethod(fn)
        setattr(owner, attr, staticmethod(wrapper) if classmethod_ else wrapper)


def dump(spans: list[dict], path: str) -> None:
    with open(path, "w") as fh:
        json.dump(sorted(spans, key=lambda s: s["start"]), fh, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover
    (children are clipped to the parent; overlapping children count
    once)."""
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            by_parent.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in by_parent.get(s["id"], ())]
        covered = _union_length([k for k in kids if k[1] > k[0]])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in by_parent.get(todo.pop(), ()):
            out.append(c)
            todo.append(c["id"])
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Layer -> summed self time of the ``op`` spans and everything below
    them (an op's own self time counts under the op's layer)."""
    selfs = self_times(spans)
    totals: dict[str, float] = {}
    for op in (s for s in spans if s["name"] == "op"):
        for s in [op] + descendants(spans, op["id"]):
            totals[s["layer"]] = totals.get(s["layer"], 0.0) + selfs[s["id"]]
    return totals


def rest(ui_url: str, app_id: str, path: str):
    url = f"{ui_url}/api/v1/applications/{app_id}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def spark_counters(spark, groups: list[str]) -> dict:
    """Jobs, stages and task metrics of the jobs run under ``groups``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(job_ids), "stages": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    if not stage_ids or not sc.uiWebUrl:
        return out
    for sid in sorted(stage_ids):
        try:
            attempts = rest(sc.uiWebUrl, sc.applicationId, f"/stages/{sid}")
        except OSError:
            continue
        for a in attempts:
            if a.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            out["shuffle_read_bytes"] += a.get("shuffleReadBytes", 0)
            out["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
            out["spill_bytes"] += a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)
    return out


def wait_for_listener(spark, timeout: float = 10.0) -> None:
    """Give the status store time to see the last finished jobs."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.5)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of ``df``'s query execution."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()  # a Scala Map[String, PhaseSummary]
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            p = phases.apply(name)
            out[name] = float(p.endTimeMs() - p.startTimeMs())
    return out


def count_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines()
               if line.lstrip(" :+-").startswith("Exchange "))
