"""Spans, Spark layer probes and process counters for the benchmark.

Spans are recorded from the benchmark's own files around calls into the
engine's layers, kept in memory and written out when the run ends. A span's
self time is its duration minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        covered, cur_end = 0.0, s["start"]
        for c in sorted(self.children(sid), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        return (s["end"] - s["start"]) - covered

    def nesting_ok(self, slack: float = 0.005) -> bool:
        """Every child lies inside its parent and the children's self times
        sum to no more than the parent's duration."""
        for s in self.spans:
            kids = self.children(s["id"])
            if not kids:
                continue
            if any(k["start"] < s["start"] - slack or k["end"] > s["end"] + slack
                   for k in kids):
                return False
            if sum(self.self_time(k["id"]) for k in kids) > s["end"] - s["start"] + slack:
                return False
        return True

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        for s in self.spans:
            s["self_s"] = self.self_time(s["id"])
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkProbe:
    """Job, stage and task counts and executor times from the status tracker
    and the app status store (both work with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def job_group(self, group: str):
        """Run the body under job group `group`; yields the job-id list,
        filled when the body ends."""
        jobs: list[int] = []
        self.sc.setJobGroup(group, group)
        try:
            yield jobs
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs.extend(self.group_jobs(group))

    def stage_totals(self, job_ids) -> dict:
        tot = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # never submitted (skipped: its shuffle was reused)
                continue
            if sd.numCompleteTasks() == 0:
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["executor_run_s"] += sd.executorRunTime() / 1e3
            tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            tot["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        return tot


PYTHON_METRICS = {"pythonNumRowsReceived": "rows_out", "pythonDataSent": "sent_mb",
                  "pythonDataReceived": "recv_mb"}


def python_node_metrics(jplan) -> dict:
    """Sum the Python-evaluation SQL metrics over an executed physical plan
    (descending through adaptive plans and query stages)."""
    out = {"rows_out": 0.0, "sent_mb": 0.0, "recv_mb": 0.0}
    stack = [jplan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for key, field in PYTHON_METRICS.items():
            m = metrics.get(key)
            if m.isDefined():
                v = m.get().value()
                out[field] += v / 2**20 if field.endswith("_mb") else v
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


class QueryListener:
    """Keeps the Catalyst phase times and Python-node metrics of every
    finished action's QueryExecution: a py4j proxy registered as Spark's
    QueryExecutionListener (called on the listener bus, after the action
    returns)."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.events: list[dict] = []
        self.lock = threading.Lock()
        self._manager = spark._jsparkSession.listenerManager()
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager.register(self)

    def close(self) -> None:
        self._manager.unregister(self)

    def onSuccess(self, func_name, qe, duration_ns):
        rec = {"func": func_name, "t": time.time()}
        try:
            phases = qe.tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                opt = phases.get(p)
                rec[p] = opt.get().durationMs() if opt.isDefined() else 0
            rec.update(python_node_metrics(qe.executedPlan()))
        except Exception as e:  # keep the listener bus alive; record the miss
            rec["error"] = repr(e)
        with self.lock:
            self.events.append(rec)

    def onFailure(self, func_name, qe, exception):
        with self.lock:
            self.events.append({"func": func_name, "t": time.time(), "failed": True})

    def wait_for(self, n: int, timeout: float = 10.0) -> list[dict]:
        """The events once there are at least `n` (or after `timeout`)."""
        end = time.time() + timeout
        while time.time() < end:
            with self.lock:
                if len(self.events) >= n:
                    break
            time.sleep(0.005)
        with self.lock:
            return list(self.events)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class FsCounter:
    """Counts and times os.link / os.rename / os.listdir / os.scandir and
    shutil.rmtree calls made by one thread while installed, merging calls
    less than 1 ms apart into intervals (the commit's metadata term)."""

    WRAPPED = (("link", os, "link"), ("rename", os, "rename"),
               ("listdir", os, "listdir"), ("scandir", os, "scandir"),
               ("rmtree", shutil, "rmtree"))

    def __init__(self):
        self.counts = {k: 0 for k, _, _ in self.WRAPPED}
        self.secs = {k: 0.0 for k, _, _ in self.WRAPPED}
        self.intervals: list[list[float]] = []
        self._depth = 0
        self._thread = None
        self._saved = []

    def _wrap(self, key, fn):
        def wrapper(*a, **kw):
            if threading.get_ident() != self._thread or self._depth:
                return fn(*a, **kw)
            self._depth += 1
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                t1 = time.time()
                self._depth -= 1
                self.counts[key] += 1
                self.secs[key] += t1 - t0
                if self.intervals and t0 - self.intervals[-1][1] < 1e-3:
                    self.intervals[-1][1] = t1
                else:
                    self.intervals.append([t0, t1])
        return wrapper

    def __enter__(self):
        self._thread = threading.get_ident()
        for key, mod, attr in self.WRAPPED:
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(key, fn))
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in self._saved:
            setattr(mod, attr, fn)
        self._saved.clear()


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name (field 3 on)."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields for `root` and all its descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stats[int(d)] = _stat_fields(f"/proc/{d}/stat")
            except OSError:
                continue
    tree, frontier = {root}, {root}
    while frontier:
        frontier = {p for p, st in stats.items() if int(st[1]) in frontier} - tree
        tree |= frontier
    return {p: stats[p] for p in tree if p in stats}


def tree_rss_mb(root: int) -> float:
    pages = sum(int(st[21]) for st in _tree(root).values())
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_sample() -> tuple[int, dict]:
    """CPU clock ticks of this process and all its descendants, reaped
    children included, and the ticks of each JVM JIT compiler thread among
    them, keyed by (pid, tid)."""
    total, jit = 0, {}
    for pid, st in _tree(os.getpid()).items():
        total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        jit[(pid, tid)] = sum(
                            int(x) for x in _stat_fields(f"/proc/{pid}/task/{tid}/stat")[11:13])
            except OSError:
                continue
    return total, jit


def cpu_s_between(a: tuple[int, dict], b: tuple[int, dict]) -> float:
    """CPU seconds of the tree between two samples, less JIT compilation:
    the work the engine does, without the warm-up compilation a long-running
    process stops paying. CPU time also leaves out time the host steals from
    the VM, which wall-clock time does not. A compiler thread that exited in
    between counts with its last sampled ticks, so the JVM should keep its
    compiler threads (-XX:-UseDynamicNumberOfCompilerThreads)."""
    jit = sum(b[1].get(k, v) - v for k, v in a[1].items())
    jit += sum(v for k, v in b[1].items() if k not in a[1])
    return (b[0] - a[0] - jit) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every INTERVAL_S seconds."""

    INTERVAL_S = 1.0

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
