"""Span recording and Spark event-log attribution for the traced run.

Spans are recorded from the benchmark's own code only: ``instrument``
replaces a module's public functions with wrappers that open a span
around each call. The program modules resolve these functions through
their module attributes at call time (``fr_ops.pop_batch``,
``fetchsim.join_payload``, ...), so the wrappers see every call the epoch
driver makes. Spans are kept in memory and written out when the run ends.

Most wrapped functions only build a lazy plan, so their span time is the
driver-side planning time; the Spark work they define shows up in the
event log, whose stages are attributed to spans by submission time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory spans: name, start, end (unix seconds), parent id and
    thread. Parents are per thread; spans opened in the epoch driver's
    tail threads are roots of their own thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    def instrument(self, module, names, prefix: str) -> None:
        for n in names:
            fn = getattr(module, n)

            @functools.wraps(fn)
            def wrapper(*a, __fn=fn, __name=f"{prefix}.{n}", **kw):
                with self.span(__name):
                    return __fn(*a, **kw)

            setattr(module, n, wrapper)

    def total(self, prefix: str) -> float:
        """Summed duration of the spans whose name starts with ``prefix``
        and that are not nested in another such span (no double count
        when one wrapped public call invokes another)."""
        by_id = {s["id"]: s for s in self.spans}
        tot = 0.0
        for s in self.spans:
            if not s["name"].startswith(prefix):
                continue
            p = by_id.get(s["parent"])
            nested = False
            while p is not None:
                if p["name"].startswith(prefix):
                    nested = True
                    break
                p = by_id.get(p["parent"])
            if not nested:
                tot += s["end"] - s["start"]
        return tot


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        st = self.t._stack()
        with self.t._lock:
            sid = len(self.t.spans)
            self.rec = {
                "id": sid,
                "name": self.name,
                "start": time.time(),
                "end": None,
                "parent": st[-1] if st else None,
                "thread": threading.current_thread().name,
            }
            self.t.spans.append(self.rec)
        st.append(sid)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        self.t._stack().pop()
        return False


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


_SQL = "org.apache.spark.sql.execution.ui."
FILES_READ = "number of files read"  # FileSourceScanExec's driver-side metric


def _files_read_accums(plan: dict, out: set) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == FILES_READ:
            out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _files_read_accums(c, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages, tasks and SQL executions from the (single)
    application event log. Each SQL execution carries its start time and
    the files its scans read, as the scans reported them."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f))
    jobs, stages, tasks = [], {}, []
    sql_start: dict[int, float] = {}
    accums: set = set()
    updates: list[tuple[int, int, int]] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind in (_SQL + "SparkListenerSQLExecutionStart",
                            _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    if "time" in ev:
                        sql_start[ev["executionId"]] = ev["time"] / 1000.0
                    _files_read_accums(ev.get("sparkPlanInfo") or {}, accums)
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    updates.extend((ev["executionId"], a, v) for a, v in ev["accumUpdates"])
                elif kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if "Submission Time" in si and "Completion Time" in si:
                        stages[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = (
                            si["Submission Time"] / 1000.0,
                            si["Completion Time"] / 1000.0,
                        )
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    im = tm.get("Input Metrics") or {}
                    tasks.append(
                        {
                            "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                            "launch": ti["Launch Time"] / 1000.0,
                            "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                            "spill": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                            "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                            "records_in": im.get("Records Read", 0),
                        }
                    )
    files_read: dict[int, int] = {}
    for eid, a, v in updates:
        if a in accums:
            files_read[eid] = files_read.get(eid, 0) + v
    sql = [{"start": t, "files_read": files_read.get(eid, 0)}
           for eid, t in sql_start.items()]
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "sql": sql}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    tot, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        tot += cur_b - cur_a
    return tot


def window_stats(ev: dict, lo: float, hi: float) -> dict:
    """Jobs, stages, tasks and SQL executions submitted in (lo, hi], the
    time in the window not covered by any running stage, executor totals,
    the input rows the tasks read and the files the scans read."""
    st = {k: v for k, v in ev["stages"].items() if lo < v[0] <= hi}
    tk = [t for t in ev["tasks"] if t["stage"] in st]
    per_stage: dict = {}
    for t in tk:
        per_stage.setdefault(t["stage"], []).append(t["run_s"])
    skews = [
        max(v) / statistics.median(v)
        for v in per_stage.values()
        if len(v) >= 2 and statistics.median(v) > 0
    ]
    return {
        "jobs": sum(1 for j in ev["jobs"] if lo < j <= hi),
        "stages": len(st),
        "tasks": len(tk),
        "gap_s": (hi - lo) - _covered(list(st.values()), lo, hi),
        "task_s": sum(t["run_s"] for t in tk),
        "gc_s": sum(t["gc_s"] for t in tk),
        "spill": sum(t["spill"] for t in tk),
        "shuffle_w": sum(t["shuffle_w"] for t in tk),
        "skew": statistics.median(skews) if skews else 1.0,
        "records_in": sum(t["records_in"] for t in tk),
        "files_read": sum(q["files_read"] for q in ev["sql"] if lo < q["start"] <= hi),
    }


def by_span(ev: dict, spans: list[dict]) -> dict:
    """Executor totals per span name: each stage goes to the innermost
    (latest-started) span open at its submission time."""
    task_s: dict = {}
    for t in ev["tasks"]:
        task_s[t["stage"]] = task_s.get(t["stage"], 0.0) + t["run_s"]
    out: dict = {}
    for sid, (sub, _) in ev["stages"].items():
        around = [s for s in spans if s["start"] <= sub <= s["end"]]
        name = max(around, key=lambda s: s["start"])["name"] if around else "(no span)"
        agg = out.setdefault(name, {"stages": 0, "task_s": 0.0})
        agg["stages"] += 1
        agg["task_s"] += task_s.get(sid, 0.0)
    return out
