"""Tracing for the traced run: spans, Spark event-log attribution, GC and
process memory.

``Tracer`` keeps spans in memory (name, start, end, parent, pass id) and
tags every Spark job started inside a span with ``setJobGroup(span_id)``.
After the session stops, :func:`parse_event_log` groups task and stage
metrics by job group, so each span gets its jobs, executor time, shuffle,
spill, Python-boundary traffic and failed tasks.  With tracing disabled a
span costs a ``time.monotonic()`` pair and a dict, and touches no Spark
state.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    def _gc_s(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    @contextmanager
    def span(self, name: str):
        """Time one call.  Yields the span record, so the caller can attach
        counts the call returns.  ``ok`` is set when the body completes."""
        rec = {"id": len(self.spans), "name": name, "pass": self.pass_id,
               "parent": self._stack[-1] if self._stack else None,
               "traced": self.enabled, "ok": False}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(f"span-{rec['id']}", name)
            gc0 = self._gc_s()
        rec["start"] = time.monotonic()
        try:
            yield rec
            rec["ok"] = True
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if sc is not None:
                rec["gc_s"] = self._gc_s() - gc0
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"span-{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)


# --- Spark event log ---------------------------------------------------------

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PY_TIME = "time to run Python workers"  # milliseconds


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, non-rolling event log: readable without zstd."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _span_of(props: dict | None) -> int | None:
    g = (props or {}).get("spark.jobGroup.id")
    if g and g.startswith("span-"):
        return int(g[5:])
    return None


def parse_event_log(log_dir: str, app_id: str) -> dict[int, dict]:
    """Per-span Spark totals, keyed by span id (only the innermost span a
    job ran under; parents are summed by the caller)."""
    files = sorted(glob.glob(os.path.join(log_dir, f"{app_id}*")))
    if not files:
        return {}
    stage_span: dict[int, int] = {}
    task_times: dict[int, list[float]] = {}
    out: dict[int, dict] = {}

    def acc(sid: int) -> dict:
        return out.setdefault(sid, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "py_mb": 0.0,
            "py_run_s": 0.0, "failed_tasks": 0, "stage_skews": [],
        })

    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = _span_of(ev.get("Properties"))
                if sid is None:
                    continue
                acc(sid)["jobs"] += 1
                for st in ev.get("Stage IDs", []):
                    stage_span[st] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                if sid is None:
                    continue
                a = acc(sid)
                a["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    a["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                run = m.get("Executor Run Time", 0) / 1000.0
                a["run_s"] += run
                task_times.setdefault(ev["Stage ID"], []).append(run)
                sw = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                a["shuffle_mb"] += sw / 1e6
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                # per-task updates of the SQL metrics of Python operators
                for u in ev.get("Task Info", {}).get("Accumulables", []):
                    name = u.get("Name")
                    if name in _PY_BYTES:
                        a["py_mb"] += float(u.get("Update", 0)) / 1e6
                    elif name == _PY_TIME:
                        a["py_run_s"] += float(u.get("Update", 0)) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info", {})
                st = info.get("Stage ID")
                sid = stage_span.get(st)
                if sid is None:
                    continue
                a = acc(sid)
                a["stages"] += 1
                times = task_times.pop(st, [])
                if len(times) > 1:
                    med = statistics.median(times)
                    a["stage_skews"].append(max(times) / med if med > 0 else 1.0)
    return out


# --- process memory ----------------------------------------------------------

def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def spark_peak_rss_mb(spark) -> float:
    """Σ VmHWM over the JVM and every process it spawned (the Python
    daemon and its workers)."""
    jvm = spark.sparkContext._jvm
    me = jvm.java.lang.ProcessHandle.current()
    pids = [int(me.pid())]
    it = me.descendants().iterator()
    while it.hasNext():
        pids.append(int(it.next().pid()))
    return sum(vm_hwm_mb(p) for p in pids)


def host_snapshot() -> dict:
    snap: dict = {"nproc": len(os.sched_getaffinity(0))}
    for key, path in (("loadavg", "/proc/loadavg"), ("pressure_cpu", "/proc/pressure/cpu")):
        try:
            with open(path) as f:
                snap[key] = f.read().strip()
        except OSError:
            pass
    return snap
