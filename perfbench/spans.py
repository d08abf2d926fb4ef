"""Spans, process-tree memory sampling and Spark event-log accounting.

Spans are recorded from the benchmark's own code around each call into
the engine.  They stay in memory and are written out once, at the end
of a run.  In a traced run every span also names the Spark job group
(``<trace id>:<span id>``) of the jobs it submits, and the session writes
Spark's event log; :func:`read_event_log` reads the jobs, stages and
tasks back so that they can be charged to the spans that caused them.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.

    Every span has ``id``, ``parent``, ``trace``, ``name``, ``start``
    and ``end`` (epoch seconds) plus free attributes.  Once ``sc`` (a
    SparkContext) is set, entering a span sets the Spark job group to the
    span's id and leaving it restores the parent's group.
    """

    def __init__(self):
        self.trace_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None
        self._offset = time.time() - time.perf_counter()
        self.own_s = 0.0  # time spent inside the tracer's Spark calls

    def now(self) -> float:
        return time.perf_counter() + self._offset

    def _group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        t0 = time.perf_counter()
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{self.trace_id}:{sid}", self.spans[sid]["name"])
        self.own_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        rec["start"] = self.now()
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def descendants(spans: list[dict], roots: list[dict]) -> list[dict]:
    """``roots`` and every span nested under one of them."""
    ids = {r["id"] for r in roots}
    for s in spans:  # parents are recorded before their children
        if s["parent"] in ids:
            ids.add(s["id"])
    return [s for s in spans if s["id"] in ids]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part covered by its children."""
    covered: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            covered.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: duration(s) - union_length(covered.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class MemorySampler:
    """Samples the resident memory of this process and all of its
    descendants (the JVM and the Python workers) from ``/proc``.

    Each process counts its proportional set size (``Pss`` in
    ``smaps_rollup``): a page shared by forked Python workers is split
    among them instead of being counted once per worker.
    """

    def __init__(self, interval: float = 0.25):
        self.peak_bytes = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

#: SQL metric display names (Spark 4.1) of the Python-worker metrics
#: ``pythonTotalTime``, ``pythonBootTime``, ``pythonInitTime`` (all ms),
#: ``pythonDataSent`` and ``pythonDataReceived`` (bytes).
PYTHON_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_received_bytes",
}

_TASK_METRICS = (
    ("run_ms", ("Executor Run Time",)),
    ("cpu_ns", ("Executor CPU Time",)),
    ("gc_ms", ("JVM GC Time",)),
    ("input_rows", ("Input Metrics", "Records Read")),
    ("input_bytes", ("Input Metrics", "Bytes Read")),
    ("shuffle_write_bytes", ("Shuffle Write Metrics", "Shuffle Bytes Written")),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Local Bytes Read")),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Remote Bytes Read")),
    ("spill_bytes", ("Memory Bytes Spilled",)),
    ("spill_bytes", ("Disk Bytes Spilled",)),
    ("fetch_wait_ms", ("Shuffle Read Metrics", "Fetch Wait Time")),
)
METRIC_KEYS = {k for k, _ in _TASK_METRICS} | set(PYTHON_METRICS.values())


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-stage task totals from the session's event log.

    Returns ``{"jobs": {job_id: {...}}, "stages": {stage_id: {...}}}``;
    a job carries ``group``, ``start`` and ``end`` (epoch seconds) and
    ``stages``; a stage carries ``tasks``, the sums of its tasks' metrics
    (``METRIC_KEYS``) and ``task_read``, the shuffle bytes each task
    read.  Only per-task updates are summed: a SQL metric's running
    value is shared by every stage and job that reuses its plan node.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(
                        ev["Stage ID"], {"tasks": 0, "task_read": [], **dict.fromkeys(METRIC_KEYS, 0)}
                    )
                    st["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for key, path_ in _TASK_METRICS:
                        v = tm
                        for part in path_:
                            v = (v or {}).get(part, 0)
                        st[key] += v or 0
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["task_read"].append(sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = PYTHON_METRICS.get(acc.get("Name"))
                        if key:
                            st[key] += int(acc.get("Update") or 0)
    return {"jobs": jobs, "stages": stages}


def stage_totals(log: dict, job_ids) -> dict:
    """Sum the stages that ran tasks for ``job_ids`` (a skipped stage
    runs none).  ``read_skew`` is max over median task shuffle read in
    the stage that read the most (max over mean when the median is 0)."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "read_skew": 0.0, **dict.fromkeys(METRIC_KEYS, 0)}
    biggest = 0
    seen: set[int] = set()
    for jid in job_ids:
        out["jobs"] += 1
        for sid in log["jobs"][jid]["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            for k in METRIC_KEYS | {"tasks"}:
                out[k] += st[k]
            reads = st["task_read"]
            if sum(reads) > biggest:
                biggest = sum(reads)
                mid = statistics.median(reads) or statistics.mean(reads)
                out["read_skew"] = max(reads) / mid
    return out
