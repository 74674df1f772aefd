"""Spans around the benchmark's calls into the engine, and the fold of
a Spark event log onto them.

A span holds a name, start, end, parent span and trace id. Spans are
kept in memory and written out when the run ends. With tracing on,
each span also sets a Spark job group, so every job the call submits
from the calling thread carries the span's id in the event log. Jobs
that the engine submits from its own worker threads carry no group;
they are given to the innermost span open on the submitting side of
the benchmark at their submission time.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections import Counter, defaultdict
from contextlib import contextmanager

PYTHON_BYTE_METRICS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Records spans only when ``enabled``; otherwise ``span`` is a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "trace_id": self.trace_id,
            "span_id": sid,
            "parent": stack[-1]["span_id"] if stack else None,
            "name": name,
            "start": time.time(),
        }
        stack.append(rec)
        self.sc.setJobGroup(self.group_of(rec), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(self.group_of(stack[-1]), stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(rec)

    def group_of(self, rec: dict) -> str:
        return f"pb:{self.trace_id}:{rec['span_id']}"

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["span_id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["span_id"]] = (s["end"] - s["start"]) - covered
    return out


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _plan_rows(info: dict, out: dict[int, str]) -> None:
    """accumulator id of each node's 'number of output rows' -> node name."""
    for m in info.get("metrics", []):
        if m.get("name") == "number of output rows":
            out[m["accumulatorId"]] = info.get("nodeName", "")
    for c in info.get("children", []):
        _plan_rows(c, out)


def event_log_files(log_dir: str) -> list[str]:
    """The files of the newest application log under ``log_dir`` (a
    plain file, or the parts of a rolling ``eventlog_v2_*`` dir)."""
    if not os.path.isdir(log_dir):
        return []
    apps = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if not apps:
        return []
    app = max(apps, key=os.path.getmtime)
    if os.path.isfile(app):
        return [app]
    parts = [os.path.join(app, f) for f in os.listdir(app) if f.startswith("events_")]
    return sorted(parts, key=lambda f: int(os.path.basename(f).split("_")[1]))


def _events(paths: list[str]):
    for p in paths:
        with open(p) as fh:
            for line in fh:
                yield json.loads(line)


def fold(paths: list[str], tracer: Tracer) -> dict[int, dict]:
    """Event log -> per-span totals over the jobs attributed to it."""
    by_group = {tracer.group_of(s): s for s in tracer.spans}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    row_acc: dict[int, str] = {}
    tasks: list[dict] = []
    for ev in _events(paths):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "submit": ev.get("Submission Time", 0) / 1000.0,
                "group": props.get("spark.jobGroup.id"),
                "call_site": props.get("callSite.short")
                or (ev.get("Stage Infos") or [{}])[0].get("Stage Name", ""),
                "first_launch": None,
            }
            for st in ev.get("Stage IDs", []):
                stage_job.setdefault(st, jid)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _plan_rows(ev.get("sparkPlanInfo") or {}, row_acc)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    # spans by time, for jobs without a benchmark group
    ordered = sorted(tracer.spans, key=lambda s: s["start"])

    def owner(job: dict) -> dict | None:
        s = by_group.get(job["group"] or "")
        if s is not None:
            return s
        best = None
        for s in ordered:
            if s["start"] <= job["submit"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    agg: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    sites: dict[int, Counter] = defaultdict(Counter)
    job_owner: dict[int, int | None] = {}
    for jid, job in jobs.items():
        s = owner(job)
        job_owner[jid] = None if s is None else s["span_id"]
        if s is not None:
            agg[s["span_id"]]["jobs"] += 1
            sites[s["span_id"]][job["call_site"]] += 1
    for ev in tasks:
        jid = stage_job.get(ev.get("Stage ID"))
        sid = job_owner.get(jid)
        info = ev.get("Task Info") or {}
        if jid is not None:
            job = jobs[jid]
            lt = info.get("Launch Time", 0) / 1000.0
            if job["first_launch"] is None or lt < job["first_launch"]:
                job["first_launch"] = lt
        if sid is None:
            continue
        a = agg[sid]
        m = ev.get("Task Metrics") or {}
        a["tasks"] += 1
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        a["task_failures"] += reason != "Success"
        a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        a["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        a["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            name = acc.get("Name")
            if name in PYTHON_BYTE_METRICS:
                a["python_bytes"] += _num(acc.get("Update"))
            node = row_acc.get(acc.get("ID"))
            if node:
                a[f"rows:{node}"] += _num(acc.get("Update"))
    for jid, job in jobs.items():
        sid = job_owner.get(jid)
        if sid is not None and job["first_launch"] is not None:
            agg[sid]["slot_wait_s"] += max(0.0, job["first_launch"] - job["submit"])
    for sid, c in sites.items():
        agg[sid]["call_sites"] = dict(c)
    return {k: dict(v) for k, v in agg.items()}


def rollup(spans: list[dict], folded: dict[int, dict], prefix: str) -> dict:
    """Sum the folded totals of every span whose name starts with
    ``prefix``, and of all the spans nested under one."""
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["span_id"])
    todo = [s["span_id"] for s in spans if s["name"].startswith(prefix)]
    seen: set[int] = set()
    while todo:
        sid = todo.pop()
        if sid not in seen:
            seen.add(sid)
            todo += kids[sid]
    out: dict = defaultdict(float)
    for sid in seen:
        for k, v in folded.get(sid, {}).items():
            if isinstance(v, (int, float)):
                out[k] += v
    return dict(out)
