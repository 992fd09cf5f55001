"""Spans, Spark counters, memory sampling and process clean-up for the
benchmark.

A span wraps one call into an engine module together with the Spark action
that forces it.  Spans live in memory and are written out when the run
ends.  When a span closes, the Spark jobs it started are read back from
Spark's own status store (stage CPU, GC, shuffle and spill).
Every SQL query that ran inside the span is captured through a
``QueryExecutionListener`` and its executed plan is walked for SQL metrics
(the Python/Arrow boundary counters and operator row counts).

Nothing here reaches inside ``erased_cells_spark``: spans sit around the
calls the benchmark makes, and counters come from Spark itself.
"""

from __future__ import annotations

import ctypes
import os
import re
import signal
import threading
import time
from contextlib import contextmanager

SAMPLE_EVERY_S = 0.25
PR_SET_CHILD_SUBREAPER = 36  # prctl option, <linux/prctl.h>
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^,]*, value: (-?\d+)\)")


class _QueryListener:
    """Collects the QueryExecution of every successful SQL action.

    Runs on Spark's listener thread, so it only stores the reference; plans
    are walked later on the main thread."""

    def __init__(self) -> None:
        self.qes: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (py4j)
        self.qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (py4j)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class PlanNode:
    __slots__ = ("name", "metrics", "children", "jnode")

    def __init__(self, name, metrics, jnode):
        self.name = name
        self.metrics = metrics
        self.children: list[PlanNode] = []
        self.jnode = jnode

    def describe(self) -> str:
        return self.jnode.simpleString(200)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def rows_in(self) -> int:
        """Rows produced by the nearest descendant that counts its output."""
        for c in self.children:
            node = c
            while node is not None:
                if "numOutputRows" in node.metrics:
                    return node.metrics["numOutputRows"]
                if "pythonNumRowsReceived" in node.metrics:
                    return node.metrics["pythonNumRowsReceived"]
                node = node.children[0] if node.children else None
        return 0


class SparkProbe:
    """Reads Spark's status store and executed plans over py4j."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.identity = spark._jvm.java.lang.System.identityHashCode
        self.seen_jobs: set[int] = set(self._job_ids())
        self.seen_stages: set[int] = set()
        self.seen_cached: set[int] = set()
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.listener = _QueryListener()
        spark._jsparkSession.listenerManager().register(self.listener)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _job_ids(self) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup())

    def new_jobs(self) -> dict:
        """Stage totals of the jobs that started since the last call."""
        ids = sorted(set(self._job_ids()) - self.seen_jobs)
        self.seen_jobs.update(ids)
        out = {
            "jobs": len(ids),
            "cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_bytes": 0,
            "shuffle_records": 0,
            "spill_bytes": 0,
            "stage_intervals": [],
        }
        for jid in ids:
            stage_ids = self.conv.asJava(self.store.job(jid).stageIds())
            for sid in stage_ids:
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                s = self.store.lastStageAttempt(sid)
                out["cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_bytes"] += s.shuffleWriteBytes()
                out["shuffle_records"] += s.shuffleWriteRecords()
                out["spill_bytes"] += s.diskBytesSpilled()
                sub, done = s.submissionTime(), s.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["stage_intervals"].append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
        return out

    def new_plans(self) -> list[PlanNode]:
        """Executed plans of the SQL actions captured since the last call."""
        qes, self.listener.qes = self.listener.qes, []
        return [self.plan_tree(qe.executedPlan()) for qe in qes]

    def plan_tree(self, jplan) -> PlanNode:
        name = jplan.nodeName()
        metrics = {k: int(v) for k, v in _METRIC_RE.findall(jplan.metrics().toString())}
        node = PlanNode(name, metrics, jplan)
        if name.startswith("AdaptiveSparkPlan"):
            kids = [jplan.executedPlan()]
        elif name.endswith("QueryStage"):
            kids = [jplan.plan()]
        elif name.startswith("ReusedExchange"):
            kids = []  # its metrics belong to the exchange it reuses
        elif name.startswith("InMemoryTableScan"):
            cached = jplan.relation().cachedPlan()
            key = self.identity(cached)
            kids = [] if key in self.seen_cached else [cached]
            self.seen_cached.add(key)
        else:
            children = jplan.children()
            kids = [children.apply(i) for i in range(children.size())]
        node.children = [self.plan_tree(k) for k in kids]
        return node


class Tracer:
    """Records spans; a disabled tracer only runs the wrapped code."""

    def __init__(self, probe: SparkProbe | None, run_id: str) -> None:
        self.probe = probe
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.counters: dict[str, float] = {}

    @property
    def enabled(self) -> bool:
        return self.probe is not None

    @contextmanager
    def span(self, name: str):
        if self.probe is None:
            yield None
            return
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self.probe.flush()
            rec["end"] = time.time()
            self._stack.pop()
            rec["spark"] = self.probe.new_jobs()
            rec["plans"] = self.probe.new_plans()

    def count(self, name: str, value: float) -> None:
        """Add to a per-lap counter (no-op when tracing is off)."""
        if self.probe is not None:
            self.counters[name] = self.counters.get(name, 0) + value


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the time its child spans cover."""
    kids: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - kids.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class RssSampler:
    """Samples the summed resident memory of the driver JVM and the Python
    daemon and workers below it, and keeps the peak.  Other processes the
    JVM starts are left out: a child caught between its spawn and its exec
    still shares the JVM's memory and would count it twice."""

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_EVERY_S):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in process_tree(self.root_pid):
            try:
                if pid != self.root_pid:
                    with open(f"/proc/{pid}/comm") as f:
                        if not f.read().startswith("python"):
                            continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def process_tree(root_pid: int) -> list[int]:
    """root_pid and every process descended from it, root first."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def become_subreaper() -> bool:
    """Makes this process the child subreaper of everything it starts, so
    that processes orphaned below it (the launcher shell the JVM leaves
    behind, Python workers) come back to it to be ended and reaped."""
    try:
        return ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def end_children(grace_s: float) -> list[int]:
    """Ends every process below this one: waits up to grace_s for them to
    exit, then sends SIGTERM and, after as long again, SIGKILL, reaping each
    one that exits.  Returns the pids still there at the end (none,
    normally)."""
    left: list[int] = []
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in left if sig is not None else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + grace_s
        while True:
            _reap()
            left = process_tree(os.getpid())[1:]
            if not left:
                return []
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    return left
