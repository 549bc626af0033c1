"""Observation helpers: spans, Spark status-store metrics, memory, host.

Everything here reads the program from outside: spans wrap the benchmark's
own calls into sketchlib, and Spark's numbers come from the driver's live
status stores (``AppStatusStore`` for jobs and stages, the SQL status store
plus the driver-side accumulators for ``MapInPandas`` node metrics).
"""

from __future__ import annotations

import contextlib
import os
import platform
import statistics
import threading
import time

#: MapInPandas SQL metrics as Spark 4.1 names them -> (our name, scale to s/bytes)
PYTHON_METRICS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("arrow_sent_bytes", 1.0),
    "data returned from Python workers": ("arrow_returned_bytes", 1.0),
    "number of output rows": ("rows_out", 1.0),
}


class Tracer:
    """In-memory spans (name, start, end, parent, run id).  ``enabled``
    False makes ``span`` a no-op so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        span's interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class SparkStats:
    """Per-job-group stage and MapInPandas metrics from the live stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc._jsc.clearJobGroup()

    def read(self, group: str) -> dict:
        """Stage totals and MapInPandas metrics of every job in ``group``.
        Call right after the group's actions: the accumulators behind the
        SQL metrics are weakly held by the driver."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jobs = _seq(store.jobsList(None))
        job_ids, stage_ids = set(), set()
        for j in jobs:
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                job_ids.add(j.jobId())
                stage_ids.update(_seq(j.stageIds()))
        out = {"jobs": len(job_ids), "tasks": 0, "input_bytes": 0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "task_skew": 1.0, "largest_stage_run_s": 0.0}
        largest = None
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never ran
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["tasks"] += sd.numTasks()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            if largest is None or sd.executorRunTime() > largest.executorRunTime():
                largest = sd
        if largest is not None:
            out["largest_stage_run_s"] = largest.executorRunTime() / 1e3
            durs = [t.duration().get() for t in
                    _seq(store.taskList(largest.stageId(), largest.attemptId(), 100000))
                    if t.duration().isDefined()]
            if durs and statistics.median(durs) > 0:
                out["task_skew"] = max(durs) / statistics.median(durs)
        out["python"] = self._python_metrics(job_ids)
        return out

    def _python_metrics(self, job_ids: set[int]) -> dict:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        acc = self.spark._jvm.org.apache.spark.util.AccumulatorContext
        tot = {v[0]: 0.0 for v in PYTHON_METRICS.values()}
        for e in _seq(sql.executionsList()):
            if not job_ids & set(_seq(e.jobs().keySet().toSeq())):
                continue
            for node in _seq(sql.planGraph(e.executionId()).allNodes()):
                if node.name() != "MapInPandas":
                    continue
                for m in _seq(node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    opt = acc.get(m.accumulatorId())
                    if key is not None and opt.isDefined():
                        tot[key[0]] += opt.get().value() * key[1]
        return tot


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, parents first."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process tree, reaped children
    included.  Spark's executorCpuTime counts JVM threads only, not the
    Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def tree_pss() -> dict[str, list]:
    """PSS of this process and its descendants, as {command: [count, MB]}."""
    out: dict[str, list] = {}
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
        c = out.setdefault(comm, [0, 0.0])
        c[0] += 1
        c[1] += kb / 1024.0
    return out


class PssSampler:
    """Background sampler of the process tree's summed PSS while active;
    keeps the peak of each ``sampling`` window, and the overall peak with
    its per-command breakdown."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_detail: dict[str, list] = {}
        self.window_peaks_mb: list[float] = []
        self._window_mb = 0.0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        detail = tree_pss()
        total = sum(mb for _, mb in detail.values())
        with self._lock:  # the sampler thread and ``sampling`` both update
            self._window_mb = max(self._window_mb, total)
            if total > self.peak_mb:
                self.peak_mb = total
                self.peak_detail = {k: [n, round(mb, 1)] for k, (n, mb) in detail.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._active.is_set():
                self._sample()

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @contextlib.contextmanager
    def sampling(self):
        with self._lock:
            self._window_mb = 0.0
        self._active.set()
        try:
            yield
        finally:
            self._sample()
            self._active.clear()
            self.window_peaks_mb.append(self._window_mb)


def host_record(nproc: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from bench import calibration_probe

    return {
        "nproc": nproc,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "calibration": calibration_probe(),
    }
