"""Benchmark-side tracing: spans, Spark event-log parsing and process RSS.

Everything here observes the program from outside: spans wrap calls into
public functions, the event log is Spark's own record of jobs, stages,
tasks and SQL executions, and memory is read from ``/proc``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Tracer:
    """Spans kept in memory until the run ends.  Times are wall-clock
    seconds (``time.time()``) so they line up with the event log's
    millisecond timestamps.  A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "run_id": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, on_result=None):
        """Replace ``module.attr`` by a spanned call; returns an undo
        callable.  ``on_result(span, result)`` may record counts."""
        original = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                result = original(*args, **kwargs)
                if on_result is not None and rec is not None:
                    on_result(rec, result)
                return result

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, original)

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def within(self, span: dict, name: str) -> list[dict]:
        """Descendant spans of ``span`` with the given name."""
        ids = {span["id"]}
        out = []
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
                if s["name"] == name:
                    out.append(s)
        return out

    def self_ms(self, span: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children(span)]
        return 1000 * (span["end"] - span["start"]
                       - union_length(kids, span["start"], span["end"]))

    def dump(self, path: str) -> None:
        for s in self.spans:
            s["self_ms"] = self.self_ms(s)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=0)


def union_length(intervals, lo=None, hi=None) -> float:
    """Total length covered by ``intervals``, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log ---------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


class EventLog:
    """Jobs, tasks and SQL executions of one application's event log
    (uncompressed, rolling: ``eventlog_v2_*/events_*`` files)."""

    def __init__(self, log_dir: str):
        # events_<index>_<app id>, read in index order
        files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                              "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.sql: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self._metric_names: dict[int, str] = {}
        self._driver_updates: list[tuple[int, int, float]] = []
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line), stage_job)
        for t in self.tasks:
            t["job"] = stage_job.get(t["stage"])
        # the scans' "size of files read" (a driver-side SQL metric); the
        # tasks' input-bytes metric misses parquet page reads here
        for ex in self.sql.values():
            ex["scan_bytes"] = 0.0
        for ex_id, acc, value in self._driver_updates:
            if (ex_id in self.sql
                    and self._metric_names.get(acc) == "size of files read"):
                self.sql[ex_id]["scan_bytes"] += value

    def _event(self, ev, stage_job):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            self.jobs[jid] = {"start": ev["Submission Time"] / 1000,
                              "end": None}
            for sid in ev["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            accum = {}
            for a in info.get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float, str)):
                    try:
                        accum[a["Name"]] = (accum.get(a["Name"], 0)
                                            + float(a["Update"]))
                    except ValueError:
                        pass
            self.tasks.append({
                "stage": ev["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                "gc_ms": m.get("JVM GC Time", 0),
                "output_bytes": m.get("Output Metrics", {}).get(
                    "Bytes Written", 0),
                "output_rows": m.get("Output Metrics", {}).get(
                    "Records Written", 0),
                "shuffle_write": m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0),
                "shuffle_read": sum(
                    m.get("Shuffle Read Metrics", {}).get(k, 0)
                    for k in ("Remote Bytes Read", "Local Bytes Read")),
                "spill": (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0)),
                "python_ms": accum.get("time to run Python workers", 0.0),
            })
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            self.sql[ev["executionId"]] = {"start": ev["time"] / 1000,
                                           "plan": ev["sparkPlanInfo"]}
            self._name_metrics(ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            if ev["executionId"] in self.sql:
                self.sql[ev["executionId"]]["plan"] = ev["sparkPlanInfo"]
            self._name_metrics(ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc, value in ev["accumUpdates"]:
                self._driver_updates.append((ev["executionId"], acc, value))

    def _name_metrics(self, node):
        for m in node.get("metrics", []):
            self._metric_names[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            self._name_metrics(child)

    def jobs_in(self, lo: float, hi: float) -> dict[int, dict]:
        """Jobs submitted within [lo, hi] (wall seconds)."""
        return {j: v for j, v in self.jobs.items()
                if lo <= v["start"] <= hi and v["end"] is not None}

    def task_sum(self, job_ids, key: str) -> float:
        return sum(t[key] for t in self.tasks if t["job"] in job_ids)

    def task_count(self, job_ids) -> int:
        return sum(1 for t in self.tasks if t["job"] in job_ids)

    def scan_bytes(self, lo: float, hi: float) -> float:
        """Bytes of the files scanned by SQL executions started within
        [lo, hi]."""
        return sum(ex["scan_bytes"] for ex in self.sql.values()
                   if lo <= ex["start"] <= hi)

    def plan_nodes(self, lo: float, hi: float) -> list[str]:
        """Node names of the final physical plans of SQL executions
        started within [lo, hi]."""
        names: list[str] = []

        def walk(node):
            names.append(node["nodeName"])
            for child in node.get("children", []):
                walk(child)

        for ex in self.sql.values():
            if lo <= ex["start"] <= hi:
                walk(ex["plan"])
        return names


# -- process memory ----------------------------------------------------------

def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may hold spaces; fields resume after ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


class PeakRss:
    """Samples this process and all its descendants (the Spark JVM, the
    Python worker daemon and its workers) and keeps each one's peak
    resident set (``VmHWM``).  ``peak_mb`` sums the per-process peaks of
    processes seen in two consecutive samples: a helper the JVM forks to
    run a shell command reports the JVM's own resident set until it
    execs, and would otherwise count the JVM twice."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peaks: dict[int, int] = {}
        self._confirmed: set[int] = set()
        self._last: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        with self._lock:
            self._sample_locked()

    def _sample_locked(self):
        now = set(_descendants(os.getpid()))
        for pid in now:
            if pid in self._last:
                self._confirmed.add(pid)
            kb = _status_kb(pid, "VmHWM")
            if kb > self.peaks.get(pid, 0):
                self.peaks[pid] = kb
        self._last = now

    def _loop(self):
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def peak_mb(self) -> float:
        with self._lock:
            self._sample_locked()
            return sum(self.peaks.get(pid, 0)
                       for pid in self._confirmed) / 1024
