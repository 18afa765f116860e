"""Spans recorded around the benchmark's calls into the package, and the
parser that attributes Spark's own task accounting to them.

A span records its name, start, end, parent span and operation id, and
tags every Spark job started inside it with its own job group.  Spans are
kept in memory and written out when the run ends.  After the session
stops, :func:`parse_event_log` reads Spark's uncompressed event log and
sums task metrics per job group; plan-node row counts come from the SQL
metrics of each job's execution.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from . import proc


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple] = []
        #: while False, spans and wrappers do nothing: the traced run times
        #: some operations untraced to measure the tracing overhead
        self.enabled = True

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, py_cpu: bool = False, jobs: bool = True, **attrs):
        """``py_cpu``: also record the CPU the Python workers used during the
        span; ``jobs=False``: the call starts no Spark jobs, skip tagging."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            **attrs,
        }
        rec["group"] = f"pb{rec['id']}" if jobs else None
        if jobs:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(rec["group"], name)
        py0 = proc.tree_cpu_s(python_workers_only=True) if py_cpu else None
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if py0 is not None:
                rec["py_cpu_s"] = proc.tree_cpu_s(python_workers_only=True) - py0
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name, py_cpu: bool = False, jobs: bool = True) -> None:
        """Replace ``owner.attr`` by a wrapper that runs each call in a span.
        ``name`` is a span name, or a function of the call's arguments."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            n = name(*args, **kwargs) if callable(name) else name
            with self.span(n, py_cpu=py_cpu, jobs=jobs):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self, owner, attr: str) -> None:
        """Restore ``owner.attr`` as it was before :meth:`wrap`."""
        for i, (o, a, fn) in enumerate(self._patched):
            if o is owner and a == attr:
                setattr(owner, attr, fn)
                del self._patched[i]
                return

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _events(event_dir: str):
    files = sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True))
    files += sorted(
        p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def parse_event_log(event_dir: str) -> dict:
    """``{"groups": {group: metrics}, "jobs": [job], "plans": {exec_id: plan},
    "acc": {accumulator id: total}}``.  A job records its group, call site,
    SQL execution id, the action that ran it (first JVM frame of the SQL
    execution, e.g. ``...DataFrameWriter.parquet(...)``), start and end.

    Per group: ``jobs``, ``job_intervals``, ``exec_ids``, and the task sums
    ``cpu_s`` (executor CPU), ``shuffle_b`` (read + write) and ``spill_b``
    (memory + disk).  A stage counts for the first job that lists it: later
    jobs reuse its shuffle output and skip it.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_acc: dict[int, dict] = {}
    acc_total: dict[int, int] = {}
    plans: dict[int, dict] = {}
    actions: dict[int, str] = {}
    for e in _events(event_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            exec_id = props.get("spark.sql.execution.id")
            jobs[jid] = {
                "id": jid,
                "group": props.get("spark.jobGroup.id"),
                "callsite": props.get("callSite.short") or "",
                "exec_id": int(exec_id) if exec_id is not None else None,
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            a = stage_acc.setdefault(e["Stage ID"], {"cpu_s": 0.0, "shuffle_b": 0, "spill_b": 0})
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_b"] += (
                sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            )
            a["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                try:
                    acc_total[acc["ID"]] = acc_total.get(acc["ID"], 0) + int(acc["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plans[int(e["executionId"])] = e["sparkPlanInfo"]
            if "details" in e:  # first JVM frame: the action that ran the plan
                actions[int(e["executionId"])] = e["details"].split("\n", 1)[0]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in e.get("accumUpdates", ()):
                acc_total[aid] = acc_total.get(aid, 0) + int(val)

    groups: dict[str, dict] = {}
    for job in jobs.values():
        job["action"] = actions.get(job["exec_id"], "")
        g = groups.setdefault(job["group"], {
            "cpu_s": 0.0, "shuffle_b": 0, "spill_b": 0,
            "jobs": 0, "job_intervals": [], "exec_ids": set(),
        })
        g["jobs"] += 1
        if job["end"] is not None:
            g["job_intervals"].append((job["start"], job["end"]))
        if job["exec_id"] is not None:
            g["exec_ids"].add(job["exec_id"])
    for sid, jid in stage_job.items():
        g = groups[jobs[jid]["group"]]
        for k, v in stage_acc.get(sid, {}).items():
            g[k] += v
    return {"groups": groups, "jobs": list(jobs.values()), "plans": plans, "acc": acc_total}


def plan_rows(plan: dict, acc: dict) -> list[tuple[str, int]]:
    """Pre-order ``(node name, number of output rows)`` of a SQL plan; -1
    where the node reports no row metric (e.g. fused into codegen)."""
    out = []

    def walk(n):
        rows = -1
        for m in n.get("metrics", ()):
            if m["name"] == "number of output rows":
                rows = acc.get(m["accumulatorId"], 0)
        out.append((n["nodeName"], rows))
        for c in n.get("children", ()):
            walk(c)

    walk(plan)
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur = 0.0, None
    for lo, hi in sorted(intervals):
        if cur is None or lo > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    if cur is not None:
        total += cur[1] - cur[0]
    return total
