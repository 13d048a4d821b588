"""Measurement helpers: in-memory spans, Spark job/task/shuffle counters
read from the status store, SQL plan-node metrics, and resident memory
read from /proc (no psutil).

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the program's public functions; counters
are read from Spark's status store after the calls return."""

from __future__ import annotations

import json
import os
import time


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory and written
    out once, at the end of the run. A disabled tracer records nothing,
    so the untraced run pays no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self, op_id: int) -> dict[str, float]:
        """Span name -> self time (its duration minus the part of that
        interval its child spans cover), summed over one op's spans."""
        spans = [s for s in self.spans if s["op"] == op_id]
        out: dict[str, float] = {}
        for s in spans:
            kids = sorted(
                (c["start"], c["end"]) for c in spans if c["parent"] == s["id"]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name
        self.seconds = 0.0

    def __enter__(self):
        self.start = time.perf_counter()
        if self.t.enabled:
            self.rec = {
                "id": len(self.t.spans),
                "name": self.name,
                "op": self.t.op_id,
                "parent": self.t._stack[-1] if self.t._stack else None,
                "start": self.start,
                "end": None,
            }
            self.t.spans.append(self.rec)
            self.t._stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.seconds = end - self.start
        if self.t.enabled:
            self.rec["end"] = end
            self.t._stack.pop()
        return False


class SparkCounters:
    """Jobs, tasks and shuffle bytes of everything run under one job
    group, and plan-node row counts of the SQL executions that ran
    since a mark."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self.sc._jsc.sc().statusStore()
        self._group = 0

    def start_group(self) -> str:
        self._group += 1
        g = f"perfbench-{self._group}"
        self.sc.setJobGroup(g, g)
        return g

    def group_totals(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        shuffle = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = tracker.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks
                try:
                    shuffle += int(self._app.lastStageAttempt(s).shuffleWriteBytes())
                except Exception:  # skipped stages have no attempt
                    pass
        return {"jobs": len(jobs), "tasks": tasks, "shuffle_bytes": shuffle}

    def execution_mark(self) -> int:
        ids = [e.executionId() for e in self._conv.asJava(self._sql.executionsList())]
        return max(ids) if ids else -1

    def node_rows(self, since: int, node_name: str) -> int:
        """Sum of "number of output rows" over plan nodes called
        `node_name` in SQL executions newer than `since`."""
        total = 0
        for e in self._conv.asJava(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= since:
                continue
            vals = self._sql.executionMetrics(eid)
            for node in self._conv.asJava(self._sql.planGraph(eid).allNodes()):
                if node.name() != node_name:
                    continue
                for m in self._conv.asJava(node.metrics()):
                    if m.name() != "number of output rows":
                        continue
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        total += int(str(v.get()).replace(",", ""))
        return total


def _proc_status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of `root` (the JVM and its Python
    workers), from the PPid field of /proc/<pid>/status."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _proc_status_kb(int(name), "PPid")
            parent[int(name)] = ppid
    out, frontier = [], {root}
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out.extend(kids)
        frontier = set(kids)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of every CPU of the host since boot,
    from /proc/stat: steal is time the hypervisor ran something else
    while a virtual CPU had work."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def cpu_seconds() -> float:
    """User + system CPU seconds of this process, its reaped children
    and every live descendant (JVM, Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    me = os.getpid()
    for p in [me, *descendants(me)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15 if p == me else 13])
    return total / tick


class PeakRss:
    """Peak resident memory of the driver, the JVM and the Python
    workers: the largest sum of per-process VmHWM seen at a sample."""

    def __init__(self):
        self.peak_kb = 0
        self.parts_kb: list[int] = []

    def sample(self) -> None:
        me = os.getpid()
        parts = [_proc_status_kb(p, "VmHWM") for p in [me, *descendants(me)]]
        if sum(parts) > self.peak_kb:
            self.peak_kb = sum(parts)
            self.parts_kb = parts

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0
