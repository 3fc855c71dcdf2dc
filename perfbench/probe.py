"""Measurement from outside the program: spans, plan metrics, engine
counters and process memory.

Nothing here patches the program.  Spans wrap the benchmark's own calls
into each module; plan metrics are Spark's SQLMetrics read from the
executed plan of the action the benchmark ran; engine counters come from
Spark's status store and the JVM's management beans; memory comes from
``/proc``.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1 << 20


# ------------------------------------------------------------------ spans
@dataclass
class Span:
    name: str
    rep: int
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    rep: int = -1
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(name, self.rep, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None)
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            self.spans.append(s)


# ---------------------------------------------------------- plan metrics
_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")
_STAGE_WRAPPERS = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                   "ResultQueryStageExec", "TableCacheQueryStageExec")


@dataclass
class PlanNode:
    cls: str
    metrics: dict[str, int]
    partitions: int = 0


def walk_plan(jplan, seen: set[int], jvm) -> list[PlanNode]:
    """Every physical operator of an executed plan with its SQLMetrics.

    Unwraps AQE (the final plan), query stages, cached relations (the
    plan that built the cache) and reused exchanges.  A reused exchange
    is listed as ``ReusedExchangeExec`` and its target is visited once.
    Operators already in ``seen`` (JVM object identities) are skipped
    and new ones added, so across the walks sharing one ``seen`` no
    metric counts twice.  ``jvm`` is the py4j JVM view."""
    out: list[PlanNode] = []
    stack = [jplan]
    while stack:
        p = stack.pop()
        pid = jvm.System.identityHashCode(p)
        if pid in seen:
            continue
        seen.add(pid)
        cls = p.getClass().getSimpleName()
        node = PlanNode(cls, {k: int(v) for k, v in _METRIC.findall(
            p.metrics().toString())})
        if cls == "ShuffleExchangeExec":
            node.partitions = p.outputPartitioning().numPartitions()
        out.append(node)
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls in _STAGE_WRAPPERS:
            stack.append(p.plan())
        elif cls == "InMemoryTableScanExec":
            stack.append(p.relation().cachedPlan())
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))
        subs = p.subqueries()
        stack.extend(subs.apply(i) for i in range(subs.size()))
    return out


def msum(nodes: list[PlanNode], cls_suffix: str, metric: str) -> int:
    return sum(
        max(n.metrics.get(metric, 0), 0)
        for n in nodes if n.cls.endswith(cls_suffix)
    )


def mmax(nodes: list[PlanNode], cls_suffix: str, metric: str) -> int:
    return max(
        (n.metrics.get(metric, 0) for n in nodes if n.cls.endswith(cls_suffix)),
        default=0,
    )


def count(nodes: list[PlanNode], cls: str) -> int:
    return sum(1 for n in nodes if n.cls == cls)


PY_CLASSES = ("PythonExec", "PandasExec", "ArrowExec")


def python_ms(nodes: list[PlanNode]) -> dict[str, float]:
    """Spark's Python UDF counters summed over every Python operator
    (MapInArrow, MapInPandas, FlatMap[Co]GroupsInPandas...): worker
    boot, worker init and total worker time in ms (as Spark reports
    them, summed over tasks), and MB returned to the JVM."""
    py = [n for n in nodes if n.cls.endswith(PY_CLASSES)]

    def total(k: str) -> float:
        return float(sum(n.metrics.get(k, 0) for n in py))

    return {"boot": total("pythonBootTime"), "init": total("pythonInitTime"),
            "exec": total("pythonTotalTime"),
            "received_mb": total("pythonDataReceived") / MB}


# -------------------------------------------------------- engine counters
class EngineCounters:
    """Deltas of engine-wide counters between two snapshots: jobs,
    stages and tasks run, shuffle bytes written, bytes spilled (from
    Spark's status store) and JVM GC time (management beans)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._jobs0: set[int] = set()
        self._gc0 = 0

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def _jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup())

    def start(self) -> None:
        self._jobs0 = self._jobs()
        self._gc0 = self._gc_ms()

    def stop(self) -> dict[str, float]:
        gc = self._gc_ms() - self._gc0
        tracker = self.sc.statusTracker()
        jobs = sorted(self._jobs() - self._jobs0)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = shuffle = spill = n_stages = 0
        for s in sorted(stages):
            try:
                d = self.store.lastStageAttempt(s)
            except Exception:  # never submitted: no attempt recorded
                continue
            if d.status().toString() != "COMPLETE":  # skipped: reused output
                continue
            n_stages += 1
            tasks += d.numCompleteTasks()
            shuffle += d.shuffleWriteBytes()
            spill += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return {
            "spark.jobs": len(jobs),
            "spark.stages": n_stages,
            "spark.tasks": tasks,
            "spark.shuffle_mb": shuffle / MB,
            "spark.spill_mb": spill / MB,
            "spark.gc_ms": float(gc),
        }


def cached_mb(spark) -> float:
    """Memory plus disk held by every persisted RDD right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def steal_s() -> float:
    """CPU time the hypervisor gave to others while this VM's CPUs were
    runnable, summed over CPUs (/proc/stat), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


# ---------------------------------------------------------------- memory
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> dict[int, int]:
    """Every live process below ``pid`` (children, grandchildren...),
    mapped to its parent."""
    kids = _children_map()
    out, todo = {}, [pid]
    while todo:
        parent = todo.pop()
        for c in kids.get(parent, []):
            out[c] = parent
            todo.append(c)
    return out


def rss_kb(pid: int) -> tuple[str, int]:
    """(command name, resident set in kB) of a process; 0 once gone."""
    name, kb = "", 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    kb = int(line.split()[1])
    except OSError:
        pass
    return name, kb


class RssSampler:
    """Peak of the summed RSS of the Spark JVM (this process's ``java``
    child) and every Python process below it (the PySpark daemon and its
    workers), sampled from /proc on a background thread while active.

    Other processes the JVM starts (Hadoop shelling out to ``chmod`` and
    the like) are left out: between their fork and their ``exec`` they
    report the JVM's resident pages, so a sample that caught one would
    count the JVM twice."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.peak_jvm_kb = 0  # the java process alone
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            tree = descendants(me)
            procs = []
            for pid, parent in tree.items():
                name, kb = rss_kb(pid)
                if name.startswith("python") or (name == "java" and parent == me):
                    procs.append((name, kb))
            self.peak_kb = max(self.peak_kb, sum(kb for _, kb in procs))
            self.peak_jvm_kb = max(
                [self.peak_jvm_kb] + [kb for n, kb in procs if n == "java"]
            )
            self.peak_procs = max(self.peak_procs, len(procs))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
