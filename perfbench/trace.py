"""Traced-run tooling: spans, Spark counters, the event-log reader and a
``/proc`` memory sampler.

Spans are recorded by the benchmark around its calls into the program
(name, start, end, parent), kept in memory and written out when the run
ends.  Each span runs its Spark jobs under a job group of its own, so the
event log attributes every job, stage and task to exactly one span.
With tracing off, :meth:`Tracer.span` does nothing at all.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Optional


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    start: float
    group: str  # the Spark job group of the span's own jobs
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Counters:
    """JVM-wide counters read through py4j: janino compiles and their
    total time, and garbage-collection time of the Spark driver JVM (in local
    mode the executors run inside it)."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._gcs = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def read(self) -> dict:
        return {
            "compiles": int(self._cm.METRIC_COMPILATION_TIME().getCount()),
            "compile_s": self._cg.compileTime() / 1e9,
            "gc_s": sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1e3,
        }


class Tracer:
    """Span recorder.  ``enabled=False`` makes every call a no-op."""

    _ids = itertools.count()

    def __init__(self, spark, enabled: bool = False):
        self.enabled = enabled
        self._prefix = f"perfbench-{os.getpid()}-{next(Tracer._ids)}"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self.counters = Counters(spark) if enabled else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        k = len(self.spans)
        sp = Span(k, name, parent.id if parent else None, 0.0, f"{self._prefix}-{k}", attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        if self.counters is not None:
            sp.attrs["c0"] = self.counters.read()
        self._sc.setJobGroup(sp.group, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.counters is not None:
                sp.attrs["c1"] = self.counters.read()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part covered by child spans (children of one
        span never overlap: the benchmark is single-threaded)."""
        return sp.dur - sum(c.dur for c in self.children(sp))

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def delta(self, sp: Span, key: str) -> float:
        return sp.attrs["c1"][key] - sp.attrs["c0"][key]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "parent": s.parent,
                     "start": s.start, "end": s.end, "attrs": s.attrs}
                    for s in self.spans
                ],
                f,
            )


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

PY_METRICS = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "arrow_sent",
    "data returned from Python workers": "arrow_received",
}


class EventLog:
    """Reads a finished Spark event log: jobs (with their job group),
    tasks (run time, shuffle bytes, SQL accumulator updates) and the
    ``MapInPandas`` Python metrics of each SQL execution's plan."""

    def __init__(self, eventlog_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.py_acc: dict[int, str] = {}  # accumulator id → PY_METRICS key
        self.sql: dict[int, dict] = {}
        files = sorted(glob.glob(os.path.join(eventlog_dir, "**", "events_*"), recursive=True))
        files += sorted(
            p for p in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.isfile(p)
        )
        for path in files:
            with open(path) as f:
                for line in f:
                    try:
                        e = json.loads(line)
                    except json.JSONDecodeError:
                        continue  # the last line of a log still being written
                    self._event(e)

    def _walk_plan(self, node: dict) -> None:
        if node.get("nodeName") == "MapInPandas":
            for m in node.get("metrics", []):
                if m["name"] in PY_METRICS:
                    self.py_acc[m["accumulatorId"]] = PY_METRICS[m["name"]]
        for c in node.get("children", []):
            self._walk_plan(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": e.get("Submission Time", 0) / 1e3,
                "stages": list(e.get("Stage IDs", [])),
                "sql": int(props["spark.sql.execution.id"]) if props.get("spark.sql.execution.id") else None,
            }
            for s in e.get("Stage IDs", []):
                self.stage_job[s] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e.get("Completion Time", 0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            tm = e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                if a.get("ID") in self.py_acc:
                    try:
                        acc[self.py_acc[a["ID"]]] = float(a.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
            self.tasks.append(
                {
                    "stage": e["Stage ID"],
                    "run_ms": tm.get("Executor Run Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "launch": info.get("Launch Time", 0) / 1e3,
                    "py": acc,
                }
            )
        elif kind.endswith("SQLExecutionStart"):
            self._walk_plan(e.get("sparkPlanInfo") or {})
            self.sql[e["executionId"]] = {
                "write": "InsertIntoHadoopFsRelationCommand" in e.get("physicalPlanDescription", ""),
                "start": e.get("time", 0) / 1e3,
            }
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._walk_plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]]["end"] = e.get("time", 0) / 1e3

    def is_write(self, job: int) -> bool:
        """A job of a file write (its SQL execution inserts into files)."""
        return self.sql.get(self.jobs[job].get("sql"), {}).get("write", False)

    def jobs_in(self, groups: set[str]) -> list[int]:
        return [j for j, d in self.jobs.items() if d["group"] in groups]

    def jobs_between(self, groups: set[str], t0: float, t1: float) -> list[int]:
        return [j for j in self.jobs_in(groups) if t0 <= self.jobs[j]["submit"] < t1]

    def tasks_of(self, jobs: list[int]) -> list[dict]:
        js = set(jobs)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in js]

    def shuffle_write(self, jobs: list[int]) -> float:
        return float(sum(t["shuffle_write"] for t in self.tasks_of(jobs)))

    def python(self, jobs: list[int]) -> dict:
        out = {k: 0.0 for k in PY_METRICS.values()}
        for t in self.tasks_of(jobs):
            for k, v in t["py"].items():
                out[k] += v
        return out

    def task_skew(self, jobs: list[int]) -> float:
        """Slowest / median task run time of the stage that read the most
        shuffle bytes among ``jobs`` (the reduce side of a shuffle)."""
        by_stage: dict[int, list[dict]] = {}
        for t in self.tasks_of(jobs):
            by_stage.setdefault(t["stage"], []).append(t)
        read = {s: sum(t["shuffle_read"] for t in ts) for s, ts in by_stage.items()}
        if not read or max(read.values()) == 0:
            return 0.0
        ts = by_stage[max(read, key=read.get)]
        times = [max(1, t["run_ms"]) for t in ts]
        return max(times) / statistics.median(times)


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _tree(root_pid: int) -> set[int]:
    """``root_pid`` and all its descendants (the Spark driver JVM and the Python
    workers are children of the benchmark process)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        parent[int(d)] = int(st[st.rindex(")") + 2 :].split()[1])
    pids, todo = set(), [root_pid]
    while todo:
        p = todo.pop()
        pids.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in pids)
    return pids


def tree_cpu_s(root_pid: Optional[int] = None) -> float:
    """User + system CPU seconds used so far by the live process tree."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree(root_pid or os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2 :].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / tick


def _tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in _tree(root_pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory; ``peak_mb``
    is the largest sum seen.  Use as a context manager."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
