"""Measurement helpers: spans, Spark event-log attribution, host counters.

Spans are recorded in the benchmark's own code around each call into a
``sparkjesse`` public function and kept in memory. A traced run also
turns on Spark's event log and registers a QueryExecutionListener (via
py4j) that records each action's Catalyst phase times. After the
session stops, :func:`attribute` parses the event log offline and
assigns every job, task and SQL metric to the innermost span that was
open when the job was submitted.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

# SQL metric names of the Python-UDF nodes (Spark 4.1 event log)
PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to run Python workers": "python.udf_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

# per-span figures kept as per-layer metrics, and the whole-run set
SPAN_FIELDS = ("jobs", "task_s", "cpu_s", "shuffle_bytes", "driver_only_s")
EXEC_FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "scan_rows",
               "shuffle_bytes", "spill_bytes", "driver_only_s")


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """In-memory spans: ``(name, start_ms, end_ms, parent_index)``. A
    disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": now_ms(), "end": None,
                           "parent": self._stack[-1] if self._stack
                           else None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = now_ms()

    def add(self, name: str, start_ms: float, end_ms: float) -> None:
        """Record a span measured elsewhere (e.g. by a stack sampler)."""
        if self.enabled:
            self.spans.append({"name": name, "start": start_ms,
                               "end": end_ms, "parent": None})


class CatalystListener:
    """py4j implementation of ``QueryExecutionListener``: records the
    analysis / optimization / planning phase of every finished action."""

    def __init__(self) -> None:
        self.phases: list[dict] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java)
        rec = {"func": str(func_name)}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            rec[str(kv._1())] = (kv._2().startTimeMs(), kv._2().endTimeMs())
        with self._lock:
            self.phases.append(rec)

    def onFailure(self, func_name, qe, exc):  # noqa: N802 (Java)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_listener(spark) -> CatalystListener:
    from pyspark.java_gateway import ensure_callback_server_started
    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = CatalystListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


# ---------------------------------------------------------------------------
# host counters
# ---------------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - idle - steal, steal, sum(vals)


def busy_cores(before: tuple, after: tuple) -> tuple[float, float]:
    """Average busy and stolen cores between two :func:`cpu_ticks`."""
    total = after[2] - before[2]
    if total <= 0:
        return 0.0, 0.0
    n = os.cpu_count()
    return ((after[0] - before[0]) / total * n,
            (after[1] - before[1]) / total * n)


def process_age_s() -> float:
    """Seconds since this interpreter process started."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _proc_tree() -> dict:
    """``{pid: stat fields after the command name}`` of this process and
    all its descendants (JVM, Python daemon and workers)."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii",
                      errors="replace") as fh:
                stats[int(pid)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    root = os.getpid()
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, f in stats.items() if int(f[1]) == p]
        tree.update(kids)
        frontier.extend(kids)
    return {p: stats[p] for p in tree if p in stats}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants; children already reaped count through their parent's
    cutime/cstime. Stolen time is not CPU time, so this figure moves
    far less than a wall with the host's load."""
    ticks = sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
                for f in _proc_tree().values())
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (JVM, Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop.is_set():
            rss = sum(int(f[21]) for f in _proc_tree().values()) * page
            self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.period)


# ---------------------------------------------------------------------------
# offline event-log attribution
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _innermost(spans: list[dict], t_ms: float):
    """Index of the latest-starting span open at ``t_ms`` (or None)."""
    best = None
    for i, s in enumerate(spans):
        if s["start"] <= t_ms <= (s["end"] or float("inf")):
            if best is None or s["start"] >= spans[best]["start"]:
                best = i
    return best


def _union_ms(intervals: list[tuple[float, float]], lo: float,
              hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(events: list[dict], spans: list[dict],
              phases: list[dict]) -> dict:
    """Per-span and whole-run executor figures, Python-UDF metrics and
    Catalyst phase times from an event log and the run's spans."""
    job_span, stage_job = {}, {}
    per: dict = {}

    def bucket(name: str) -> dict:
        return per.setdefault(name, {k: 0.0 for k in EXEC_FIELDS})

    run = bucket("exec")
    py = {v: 0.0 for v in PY_METRICS.values()}
    tasks_iv, job_times = [], []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            idx = _innermost(spans, e["Submission Time"])
            job_span[e["Job ID"]] = idx
            job_times.append(e["Submission Time"])
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
            run["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            tasks_iv.append((info["Launch Time"], info["Finish Time"]))
            if e["Stage ID"] not in stage_job:
                continue    # a job outside the measured window
            vals = {
                "tasks": 1,
                "task_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                # rows, not bytes: Spark's input-bytes task metric misses
                # most local parquet reads
                "scan_rows": (m.get("Input Metrics") or {})
                .get("Records Read", 0),
                "shuffle_bytes": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
            }
            idx = job_span[stage_job[e["Stage ID"]]]
            targets = [run]
            if idx is not None:
                targets.append(bucket(spans[idx]["name"]))
            for t in targets:
                for k, v in vals.items():
                    t[k] += v
            for acc in info.get("Accumulables", []):
                name = PY_METRICS.get(acc.get("Name"))
                if name is not None:
                    py[name] += float(acc.get("Update") or 0)
    # wall with no task running, per span name (inclusive of children)
    for s in spans:
        if s["end"] is None:
            continue
        idle = (s["end"] - s["start"]) - _union_ms(tasks_iv, s["start"],
                                                   s["end"])
        bucket(s["name"])["driver_only_s"] += idle / 1e3
    if spans:
        lo = min(s["start"] for s in spans)
        hi = max(s["end"] for s in spans if s["end"] is not None)
        run["driver_only_s"] = ((hi - lo) - _union_ms(tasks_iv, lo, hi)) / 1e3
    # jobs submitted while a span was open, children included
    for s in spans:
        if s["end"] is not None:
            bucket(s["name"])["jobs"] += sum(
                1 for t in job_times if s["start"] <= t <= s["end"])
    # python timing metrics are millisecond SQL metrics
    for k in ("python.boot_s", "python.udf_s"):
        py[k] /= 1e3
    cat = {"catalyst.analysis_s": 0.0, "catalyst.optimize_s": 0.0,
           "catalyst.plan_s": 0.0, "catalyst.actions": float(len(phases))}
    for rec in phases:
        for phase, key in (("analysis", "catalyst.analysis_s"),
                           ("optimization", "catalyst.optimize_s"),
                           ("planning", "catalyst.plan_s")):
            if phase in rec:
                a, b = rec[phase]
                cat[key] += (b - a) / 1e3
    return {"per_span": per, "python": py, "catalyst": cat}
