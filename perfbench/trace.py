"""Tracing for the per-layer run, all from outside the engine.

- ``Tracer.wrap`` replaces driver-side public functions of the engine's
  modules with span-recording wrappers at run time. A name bound by
  ``from module import name`` is a separate binding, so every loaded
  ``neighborly_spark`` namespace that holds the same function object is
  wrapped where it is bound. Only functions called on the driver are
  wrapped: a wrapper captured in a closure shipped to Python workers
  would be pickled by value and split the workers' module state.
- ``SparkStats`` reads Spark's own status stores (stages per job group,
  SQL metrics of the Python nodes per execution), which work with the UI
  off. Lazy DataFrame work is attributed to the job group of the phase
  occurrence whose action forces it.
- ``RssSampler`` sums the resident memory of the driver process tree
  (driver Python, the JVM, the Python workers) from /proc.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import statistics
import sys
import threading
import time


class Tracer:
    """In-memory spans: (name, phase, start, end, parent index)."""

    def __init__(self):
        self.spans: list = []
        self.phase = "setup"
        self._stack: list = []
        self._wrapped: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        i = len(self.spans)
        self.spans.append([name, self.phase, time.perf_counter(), None, parent])
        self._stack.append(i)
        try:
            yield
        finally:
            self.spans[i][3] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, qualname: str, span_name: str) -> None:
        """Wrap ``module.qualname`` (``Class.method`` for methods) and every
        other loaded engine binding of the same object."""
        owner, attr = module, qualname
        if "." in qualname:
            cls_name, attr = qualname.split(".")
            owner = getattr(module, cls_name)
        raw = owner.__dict__[attr]
        fn = raw.__func__ if isinstance(raw, classmethod) else raw

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(span_name):
                return fn(*a, **kw)

        new = classmethod(traced) if isinstance(raw, classmethod) else traced
        bindings = [(owner, attr, raw)]
        if owner is module:
            for mod in list(sys.modules.values()):
                ns = getattr(mod, "__dict__", None)
                if mod is module or ns is None or not getattr(mod, "__name__", "").startswith("neighborly_spark"):
                    continue
                for name, val in list(ns.items()):
                    if val is fn:
                        bindings.append((mod, name, val))
        for obj, name, old in bindings:
            setattr(obj, name, new)
            self._wrapped.append((obj, name, old))

    def unwrap(self) -> None:
        for obj, name, old in reversed(self._wrapped):
            setattr(obj, name, old)
        self._wrapped.clear()

    def totals(self) -> dict:
        """{(span name, phase): (total seconds, self seconds, calls)}. Self
        time is the span minus the part covered by its child spans."""
        child = [0.0] * len(self.spans)
        for name, phase, t0, t1, parent in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        out: dict = {}
        for i, (name, phase, t0, t1, _) in enumerate(self.spans):
            if t1 is None:
                continue
            tot, slf, n = out.get((name, phase), (0.0, 0.0, 0))
            out[(name, phase)] = (tot + t1 - t0, slf + t1 - t0 - child[i], n + 1)
        return out


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ('total (min, med, max ...)\\n13.8 s
    (...)' or '13.8 s') in seconds or bytes."""
    m = re.match(r"\s*([0-9][0-9,.]*)\s*([A-Za-z]+)", text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


#: Python-node SQL metric display names -> per-layer metric names
PYTHON_METRICS = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "received_mb",
}


class SparkStats:
    """Per-phase Spark numbers from the status stores. Each occurrence of
    a phase is a job group of its own (the tracker lists every job a group
    ever had, so a reused group would count earlier occurrences again);
    ``phase_stats`` reads the stages of the group's jobs and the SQL
    executions started since the previous read."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.skip()

    def _flush(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def skip(self) -> None:
        """Leave every SQL execution so far out of the next phase (set-up,
        the tracer's own probe jobs)."""
        self._flush()
        ex = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        self._consumed_exec = max(
            (ex.apply(i).executionId() for i in range(ex.size())), default=-1
        )

    def phase_stats(self, group: str) -> dict:
        self._flush()
        sc, jvm = self.sc, self.sc._jvm
        st = sc._jsc.sc().statusStore()
        stage_ids = set()
        for j in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        qs = sc._gateway.new_array(jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        out = dict.fromkeys(
            ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_mb", "shuffle_write_mb", "task_max_s", "task_median_s"), 0.0
        )
        medians = []
        seq = st.stageList(jvm.java.util.ArrayList(), False, False,
                           sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() not in stage_ids or s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            summ = st.taskSummary(s.stageId(), s.attemptId(), qs)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                medians.append(run.apply(0) / 1e3)
                out["task_max_s"] = max(out["task_max_s"], run.apply(1) / 1e3)
        if medians:
            out["task_median_s"] = statistics.median(medians)
        out.update(self._python_metrics())
        return out

    def _python_metrics(self) -> dict:
        sq = self.spark._jsparkSession.sharedState().statusStore()
        ex = sq.executionsList()
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        newest = self._consumed_exec
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._consumed_exec:
                continue
            newest = max(newest, eid)
            vals = sq.executionMetrics(eid)
            mets = e.metrics()
            seen = set()
            for k in range(mets.size()):
                m = mets.apply(k)
                name = PYTHON_METRICS.get(m.name())
                if name is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    out[name] += parse_sql_metric(v.get())
        self._consumed_exec = newest
        for key in ("sent_mb", "received_mb"):
            out[key] /= 2**20
        return out


def cpu_times() -> list:
    """Aggregate CPU jiffies from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ratio(before: list, after: list) -> float:
    """Share of the host's CPU time taken by other guests between two
    cpu_times() readings: how much host contention slowed this run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list:
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Background sampler of the driver process tree's summed RSS; the
    peak is taken only while ``active`` (the timed phases)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak = max(self.peak, tree_rss_mb(root))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
