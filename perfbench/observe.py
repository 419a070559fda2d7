"""Measurement from outside the program.

- ``ProcTree`` samples resident memory and CPU time of this process's
  descendants (the Spark JVM and its Python workers) from /proc.
- ``Spans`` times calls into a module's public functions by wrapping
  the module attribute for the duration of a ``with`` block.
- ``read_events`` loads Spark's JSON event log (written with
  ``spark.eventLog.enabled``) and ``GroupStats`` sums task metrics and
  SQL operator metrics for the jobs of one job group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str):
    """(ppid, rss_bytes, cpu_seconds incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    ticks = sum(int(v) for v in fields[11:15])
    return int(fields[1]), int(fields[21]) * _PAGE, ticks / _TICK


def descendants(root: int) -> dict:
    """pid -> (rss_bytes, cpu_s) for every live descendant of ``root``."""
    info, kids = {}, defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            s = _stat(d)
            if s is not None:
                info[int(d)] = s
                kids[s[0]].append(int(d))
    out, todo = {}, list(kids[root])
    while todo:
        p = todo.pop()
        if p in info:
            out[p] = info[p][1:]
        todo.extend(kids[p])
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    between the processes that map it.  Summed over a process tree it
    counts every resident page once, so a child the JVM forks to run a
    shell command, or a worker forked from the PySpark daemon, adds only
    the pages it owns, not a second copy of its parent's RSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def steal_s() -> float:
    """CPU seconds the hypervisor gave other guests instead of this VM."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class ProcTree:
    """Background sampler of the descendants' resident memory (summed
    PSS, peak since the last ``reset``) and their cumulative CPU
    seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = 0
        self.at_peak = []
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.interval):
            pss = [pss_bytes(p) for p in descendants(os.getpid())]
            total = sum(pss)
            with self._lock:
                if total > self._peak:
                    self._peak = total
                    self.at_peak = sorted(round(b / 2**20) for b in pss if b)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self):
        with self._lock:
            self._peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    @staticmethod
    def cpu_s() -> float:
        return sum(c for _, c in descendants(os.getpid()).values())


class Spans:
    """Total wall seconds spent in wrapped module functions."""

    def __init__(self):
        self.seconds = defaultdict(float)

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                self.seconds[name] += time.perf_counter() - t0

        setattr(module, attr, timed)
        try:
            yield
        finally:
            setattr(module, attr, orig)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def read_events(log_dir: str) -> list:
    """All events of every application log under ``log_dir`` (plain or
    rolling ``eventlog_v2_*`` layout), in file order."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
                   + [p for p in glob.glob(os.path.join(log_dir, "*"))
                      if os.path.isfile(p)])
    events = []
    for p in files:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _metric_value(kind: str, raw: float) -> float:
    """SQL metric raw value -> seconds for timings, bytes for sizes."""
    if kind == "timing":
        return raw / 1e3
    if kind == "nsTiming":
        return raw / 1e9
    return raw


class Node:
    def __init__(self, info: dict, values: dict):
        self.name = info["nodeName"]
        self.metrics = {m["name"]: _metric_value(m["metricType"],
                                                 values.get(m["accumulatorId"], 0))
                        for m in info.get("metrics", [])}
        self.children = [Node(c, values) for c in info.get("children", [])]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def rows_in(self) -> float:
        """Output rows of the nearest descendant that counts them."""
        for c in self.children:
            for n in c.walk():
                if "number of output rows" in n.metrics:
                    return n.metrics["number of output rows"]
        return 0.0


class GroupStats:
    """Everything the event log says about one job group."""

    def __init__(self, events: list, group: str):
        job_group, exec_of_job, stages_of_job = {}, {}, {}
        for e in events:
            if e["Event"] == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job_group[e["Job ID"]] = props.get("spark.jobGroup.id")
                exec_of_job[e["Job ID"]] = props.get("spark.sql.execution.id")
                stages_of_job[e["Job ID"]] = e["Stage IDs"]
        jobs = [j for j, g in job_group.items() if g == group]
        stages = {s for j in jobs for s in stages_of_job[j]}
        execs = {int(exec_of_job[j]) for j in jobs if exec_of_job[j] is not None}
        self.jobs = len(jobs)

        values = defaultdict(float)
        self.task = defaultdict(float)
        self.tasks = 0
        self.stages_run = 0
        plan, desc, span = {}, {}, {}
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerTaskEnd":
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        values[a["ID"]] += float(a["Update"])
                if e["Stage ID"] in stages:
                    self.tasks += 1
                    self._add_task(e.get("Task Metrics") or {})
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if si["Stage ID"] in stages and "Submission Time" in si:
                    self.stages_run += 1
            elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, v in e["accumUpdates"]:
                    values[acc_id] += v
            elif ev in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                if e["executionId"] in execs:
                    plan[e["executionId"]] = e["sparkPlanInfo"]
                    desc[e["executionId"]] = e["physicalPlanDescription"]
                    if ev.endswith("Start"):
                        span[e["executionId"]] = [e["time"], e["time"]]
            elif ev == _SQL + "SparkListenerSQLExecutionEnd":
                if e["executionId"] in span:
                    span[e["executionId"]][1] = e["time"]
        order = sorted(plan)
        self.plans = [Node(plan[x], values) for x in order]
        self.descriptions = [(x, desc[x]) for x in order]
        self.exec_seconds = [(span[x][1] - span[x][0]) / 1e3 for x in order
                             if x in span]

    def _add_task(self, m: dict):
        t = self.task
        t["run_s"] += m.get("Executor Run Time", 0) / 1e3
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        t["spill_b"] += m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        t["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        t["out_records"] += (m.get("Output Metrics") or {}).get("Records Written", 0)

    def nodes(self, *names):
        return [n for p in self.plans for n in p.walk() if n.name in names]

    def python_nodes(self):
        """Operators that hand rows to Python workers (ArrowEvalPython,
        MapInPandas, FlatMapGroupsInArrow, ...)."""
        return [n for p in self.plans for n in p.walk()
                if n.name.endswith("Python") or "InPandas" in n.name
                or "InArrow" in n.name]
