"""What the benchmark reads from outside the engine: process memory, a
fixed-work CPU sentinel, spans around its own calls, Spark's event log,
Catalyst's planning tracker and streaming progress. Nothing here changes
what the engine does; every source is either the benchmark's own clock or
data Spark already publishes."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import threading
import time
from collections import defaultdict

# ---------------------------------------------------------------- memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        # the command name may hold spaces; the ppid follows its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and every process below it: the Python
    client, the Spark JVM it launched and the JVM's Python workers."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the process tree's resident memory every ``period`` seconds
    on a daemon thread and keeps the peak."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.period)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling (once; later calls return the same peak)."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return self.peak_mb


# ---------------------------------------------------------------- noise


def calib_ms(rounds: int = 100_000) -> float:
    """A fixed single-thread job (chained SHA-256): when this moves between
    runs, the machine moved, not the engine."""
    t0 = time.perf_counter()
    h = b"spark-graft"
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()
    return (time.perf_counter() - t0) * 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to others."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory and written out once, at exit. A disabled
    tracer still times (the workloads need the durations) but keeps
    nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        rec = {"name": name, "op": op, "start": time.perf_counter() - self._t0}
        if self.enabled:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            rec.update(attrs)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            if self.enabled:
                self._stack.pop()


# ---------------------------------------------------------------- JVM


def jvm_compile_counters(spark, since: dict | None = None) -> dict[str, float]:
    """Code generation and JIT work of the session's JVM, from counters it
    already publishes: Spark's ``CodegenMetrics`` (classes compiled from
    generated source, i.e. codegen-cache misses) and the JVM's own
    ``CompilationMXBean`` (milliseconds spent in the JIT compilers). With
    ``since``, the difference from that earlier reading."""
    jvm = spark.sparkContext._jvm
    now = {
        "codegen_compilations": float(
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        ),
        "jit_compile_ms": float(
            jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
        ),
    }
    if since is None:
        return now
    return {k: v - since[k] for k, v in now.items()}


# ---------------------------------------------------------------- Catalyst


def planning_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own
    QueryExecution, from Spark's QueryPlanningTracker. Asking for the
    executed plan runs the optimizer and planner once if nothing has."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        out[p] = float(phases.get(p).get().durationMs()) if phases.contains(p) else 0.0
    return out


# ---------------------------------------------------------------- event log

EVENT_LOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.compress": "false",
}

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_ROWS = "number of output rows"
_PY_TIME = "time to run Python workers"


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


class EventLogTotals:
    """Per-job-group sums read from a finished (uncompressed, single-file)
    Spark event log: stages, tasks, executor CPU, GC, input bytes, shuffle
    and spill bytes, Python-node SQL metrics and reused exchanges in each
    execution's final adaptive plan."""

    FIELDS = (
        "stages", "tasks", "task_cpu_ms", "gc_ms", "input_bytes",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_disk_bytes",
        "python_rows_out", "python_data_bytes", "python_exec_ms",
        "reused_exchanges", "jobs",
    )

    def __init__(self, path: str):
        self.by_group: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(self.FIELDS, 0.0)
        )
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        final_plan: dict[int, dict] = {}
        py_acc: dict[int, tuple[str, str]] = {}  # accumulator -> (metric, type)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    self.by_group[g]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                    xid = props.get("spark.sql.execution.id")
                    if xid is not None:
                        exec_group.setdefault(int(xid), g)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "")
                    self.by_group[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    self._task_end(e, self.by_group[stage_group.get(e["Stage ID"], "")], py_acc)
                elif kind.endswith(
                    ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
                ):
                    final_plan[e["executionId"]] = e["sparkPlanInfo"]
                    for node in _walk(e["sparkPlanInfo"]):
                        metrics = node.get("metrics", ())
                        if _PY_RECV in {m["name"] for m in metrics}:
                            for m in metrics:
                                py_acc[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
        for xid, plan in final_plan.items():
            g = exec_group.get(xid, "")
            self.by_group[g]["reused_exchanges"] += sum(
                1 for n in _walk(plan) if n.get("nodeName", "").startswith("ReusedExchange")
            )

    @staticmethod
    def _task_end(e: dict, t: dict, py_acc: dict) -> None:
        m = e.get("Task Metrics") or {}
        t["tasks"] += 1
        t["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        t["gc_ms"] += m.get("JVM GC Time", 0)
        t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        t["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
        # SQL metrics of Python nodes (the plan event that names them comes
        # before the tasks that update them), charged to the task's group.
        for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
            name, mtype = py_acc.get(acc["ID"], (None, None))
            if name is None:
                continue
            value = float(acc.get("Update", 0))  # SQL metric updates are logged as strings
            if name == _PY_ROWS:
                t["python_rows_out"] += value
            elif name in (_PY_SENT, _PY_RECV):
                t["python_data_bytes"] += value
            elif name == _PY_TIME:
                t["python_exec_ms"] += value / 1e6 if mtype == "nsTiming" else value

    def total(self, groups) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0.0)
        for g in groups:
            for k, v in self.by_group.get(g, {}).items():
                out[k] += v
        return out


# ---------------------------------------------------------------- streaming


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress record (as the
    parsed JSON dict). Built lazily so importing this module needs no
    pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()
            self.rows = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(p)
                self.rows += int(p.get("numInputRows", 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> tuple[int, list[dict]]:
            with self._lock:
                return self.rows, list(self.progress)

    return ProgressListener()
