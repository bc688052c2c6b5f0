"""Measurement plumbing shared by the workloads: spans, the process-tree RSS
sampler, Spark SQL metric harvesting and the summary statistics.

Nothing here is traced inside ``streamvbyte_spark``: spans wrap the
benchmark's own calls into the package's public functions, and the Spark
figures come from Spark's own per-operator SQL metrics.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no values")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory span recorder.  A span is (name, start, end, parent, req);
    the hierarchy is run -> op (pass or request) -> query -> layer call.
    Disabled tracers record nothing, so an untraced run pays one attribute
    test per span boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._muted = False

    @contextmanager
    def muted(self, on: bool = True):
        """Record no spans inside this block while ``on``."""
        before, self._muted = self._muted, self._muted or on
        try:
            yield
        finally:
            self._muted = before

    @contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled or self._muted:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent]["req"]
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent, "req": req})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def layer_self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part its
        children cover, summed by layer.  A span's layer is its name up to
        the last dot (``operators.encode.encode_table`` ->
        ``operators.encode``); names without a dot are their own layer.
        Spans still open count up to now."""
        now = time.perf_counter()
        dur = [(s["end"] or now) - s["start"] for s in self.spans]
        child_time = [0.0] * len(self.spans)
        for s, d in zip(self.spans, dur):
            if s["parent"] is not None:
                child_time[s["parent"]] += d
        out: dict[str, float] = {}
        for s, d, ct in zip(self.spans, dur, child_time):
            layer = s["name"].rsplit(".", 1)[0] if "." in s["name"] \
                else s["name"]
            out[layer] = out.get(layer, 0.0) + d - ct
        return out

    def durations(self, name: str, req: str = "") -> list[float]:
        """Durations of the closed spans called ``name`` whose request id
        starts with ``req`` (timed ops have ids ``op<i>``)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (s["req"] or "").startswith(req)]

    def write(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s["name"],
                                    "start": s["start"] - t0,
                                    "end": s["end"] - t0,
                                    "parent": s["parent"],
                                    "req": s["req"]}) + "\n")


# ------------------------------------------------------------ RSS sampler

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident set of ``root`` and all its descendants, summed by kind:
    ``java`` (the Spark JVM) and ``python`` (this driver and the workers)."""
    page = os.sysconf("SC_PAGESIZE")
    out = {"java": 0, "python": 0}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "java" if f.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/statm") as f:
                out[kind] += int(f.read().split()[1]) * page
        except OSError:
            continue
    return out


class RssSampler:
    """Background thread sampling the process tree's summed RSS; keeps the
    peak of the total and of each kind."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_by_kind = {"java": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            self.peak = max(self.peak, sum(rss.values()))
            for k, v in rss.items():
                self.peak_by_kind[k] = max(self.peak_by_kind[k], v)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------- Spark SQL metrics

# SQL metric display name -> (per-layer key, unit scale into that key's
# unit).  Timings arrive formatted in ms/s/m/h, sizes in B/KiB/MiB/...
SQL_METRICS = {
    "time to initialize Python workers": "python_init_ms",
    "time to start Python workers": "python_boot_ms",
    "time to run Python workers": "python_total_ms",
    "data sent to Python workers": "python_data_sent_mb",
    "data returned from Python workers": "python_data_received_mb",
    "shuffle bytes written": "shuffle_bytes_written_mb",
    "spill size": "spill_mb",
    "peak memory": "peak_memory_mb",
}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_SIZE_MB = {"B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10,
            "TiB": 2**20, "PiB": 2**30, "EiB": 2**40}
_VALUE_RE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric_value(text: str) -> float | None:
    """Leading total of a formatted SQL metric value.  Multi-task metrics
    print a header line and then ``<total> (<min>, <med>, <max> ...)``."""
    m = _VALUE_RE.match(text.strip().splitlines()[-1])
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_MS:
        return num * _TIME_MS[unit]
    if unit in _SIZE_MB:
        return num * _SIZE_MB[unit]
    return num


class SparkMetrics:
    """Harvests Spark's per-operator SQL metrics and job/stage/task counts
    for the jobs of one job group.

    The SQL status store keeps every executed plan's metrics, including
    each adaptive query stage's operators (the ones a walk of the
    top-level plan misses unless it descends into the stages) and the
    plans of ``noop`` writes, whose QueryExecution is not reachable from
    Python.  Reading it after the listener bus drains gives the same
    accumulator values the plan nodes hold."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = spark._jsparkSession.sharedState().statusStore()

    def start_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def harvest(self, group: str) -> dict[str, float]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        out = {k: 0.0 for k in SQL_METRICS.values()}
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            si = tracker.getStageInfo(s)
            if si is not None:
                tasks += si.numTasks
        out.update(jobs=float(len(jobs)), stages=float(len(stages)),
                   tasks=float(tasks))
        # the group's executions are among the most recent ones
        n = self._store.executionsCount()
        execs = self._store.executionsList(max(0, n - 64), min(n, 64))
        for i in range(execs.size()):
            e = execs.apply(i)
            ejobs = {int(x) for x in
                     e.jobs().keys().mkString(",").split(",") if x}
            if not ejobs & jobs:
                continue
            values = {}
            for kv in self._store.executionMetrics(e.executionId()) \
                    .mkString("\u0001").split("\u0001"):
                if " -> " in kv:
                    k, v = kv.split(" -> ", 1)
                    values[int(k)] = v
            seen_acc = set()
            for pm in e.metrics().mkString("\u0001").split("\u0001"):
                # SQLPlanMetric(<name>,<accumulatorId>,<metricType>)
                body = pm[pm.index("(") + 1:pm.rindex(")")]
                name, acc, _kind = body.rsplit(",", 2)
                key = SQL_METRICS.get(name)
                acc = int(acc)
                if key is None or acc in seen_acc or acc not in values:
                    continue
                seen_acc.add(acc)
                v = parse_metric_value(values[acc])
                if v is not None:
                    out[key] += v
        return out
