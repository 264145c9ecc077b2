"""Spans recorded at the benchmark's own boundaries, and the Spark event
log read back and attributed to them.

Span tree: run -> workload -> pass -> operation (query, job or micro-batch) ->
phase (construct, exec, or a streaming step call). All spans of one
operation carry its ``op`` id. Spans live in memory and are written
out when the run ends.

In a traced run only, each phase also tags its Spark jobs with a job
group ``perfbench:<span id>``. Jobs submitted from threads that do not
inherit the caller's local properties (a Python thread pool inside an
operator, the streaming query's own thread) carry no such group; they
are attributed to the innermost phase or operation whose time window
contains their submission time.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench:"


class Tracer:
    def __init__(self):
        self.sc = None
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stack = threading.local()
        self.py4j_calls = 0
        self._counting = 0

    def attach(self, spark_context) -> None:
        """Traced run only: tag jobs with job groups and count py4j
        calls from here on."""
        self.sc = spark_context
        self._wrap_gateway()

    # -- spans -------------------------------------------------------------
    def _parent(self):
        stack = getattr(self._stack, "ids", None)
        return stack[-1] if stack else None

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None, op: int | None = None, **attrs) -> dict:
        with self._lock:
            span = {"id": len(self.spans), "name": name, "kind": kind,
                    "parent": parent, "op": op, "start": start,
                    "end": end, **attrs}
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        """Record a span around the block, as a child of this thread's
        open span; yields the span dict (its ``end`` is filled in when
        the block exits, also on error). A ``phase`` span tags its jobs
        when tracing is on, and a ``construct`` phase counts py4j
        calls."""
        parent = self._parent()
        span = self.add(name, kind, time.time(), 0.0, parent, **attrs)
        if kind == "op":
            span["op"] = span["id"]
        elif parent is not None:
            span["op"] = self.spans[parent]["op"]
        ids = getattr(self._stack, "ids", None)
        if ids is None:
            ids = self._stack.ids = []
        ids.append(span["id"])
        tagged = self.sc is not None and kind == "phase"
        if tagged:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span['id']}", name)
        counting = self.sc is not None and name == "construct"
        if counting:
            calls0 = self.py4j_calls
            with self._lock:
                self._counting += 1
        try:
            yield span
        finally:
            span["end"] = time.time()
            if counting:
                with self._lock:
                    self._counting -= 1
                span["py4j_calls"] = self.py4j_calls - calls0
            if tagged:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            ids.pop()

    def _wrap_gateway(self) -> None:
        """Count py4j round trips while a construct phase is open, from
        any thread (operators may build plans in a thread pool)."""
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if self._counting:
                with self._lock:
                    self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


# ---------------------------------------------------------------------------
# Event log

def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn the event log on."""
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false"]


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc = {a.get("Name"): a.get("Update") for a in
           info.get("Accumulables") or []}

    def num(v):
        try:
            return float(v)
        except (TypeError, ValueError):
            return 0.0

    return {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_records": sw.get("Shuffle Records Written", 0),
        "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "scan_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "sink_bytes": (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0),
        "python_sent": num(acc.get(_PY_SENT)),
        "python_received": num(acc.get(_PY_RECV)),
        "failed": int((ev.get("Task End Reason") or {}).get("Reason")
                      != "Success"),
    }


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-stage task sums from the one application log under
    ``log_dir``: ``{"jobs": [...], "stages": {stage_id: sums}}``."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {"id": ev["Job ID"],
                           "submit": ev["Submission Time"] / 1e3,
                           "group": props.get("spark.jobGroup.id") or "",
                           "stages": ev.get("Stage IDs", [])}
                    jobs[job["id"]] = job
                    for s in job["stages"]:
                        stage_job.setdefault(s, job["id"])
                elif kind == "SparkListenerTaskEnd":
                    row = _task_row(ev)
                    acc = stages.setdefault(ev["Stage ID"],
                                            {k: 0 for k in row} | {"tasks": 0})
                    for k, v in row.items():
                        acc[k] += v
                    acc["tasks"] += 1
    for sid, acc in stages.items():
        acc["job"] = stage_job.get(sid)
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"]),
            "stages": stages}


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, int]:
    """job id -> span id: by job group when the job carries ours, else
    the latest-starting phase (then operation) span whose window holds
    the job's submission time. Jobs outside every window (set-up, checks)
    are left out."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, int] = {}
    for kind in ("phase", "op"):
        windows = sorted((s for s in spans if s["kind"] == kind),
                         key=lambda s: s["start"])
        for job in jobs:
            if job["id"] in out:
                continue
            g = job["group"]
            if g.startswith(GROUP_PREFIX):
                sid = int(g[len(GROUP_PREFIX):])
                if sid in by_id:
                    out[job["id"]] = sid
                    continue
            hit = [s for s in windows
                   if s["start"] - 0.005 <= job["submit"] <= s["end"] + 0.005]
            if hit:
                out[job["id"]] = hit[-1]["id"]
    return out
