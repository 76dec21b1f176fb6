"""Spans around every call into a layer, Spark-job attribution from the
event log, and process accounting from /proc.

A span records its name, start, end, parent and the id of the op it
belongs to. The client is sequential and the stream's micro-batches run
only while the client waits on them, so one process-wide stack gives
every span its parent, including spans opened on the stream thread.
Spark jobs are attributed to the innermost span open at their submission
time. A span's self time is its interval minus the part its children
cover; ``job_s`` is the part of the self time covered by its own jobs,
and ``driver_s`` the rest.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")

#: spans whose work crosses into Python workers; only these read /proc
PY_BOUNDARY = {
    "textmetrics.quality_metrics",
    "dedupe.minhash_near_duplicates",
    "similarity.embedding_near_duplicates",
}
#: (span, measures) reported per layer, in output order. A measure that
#: is zero by construction for a span is left out.
LAYER_MEASURES = {
    "session.build_session": ("calls", "self_s"),
    "session.warmup": ("calls", "self_s", "jobs", "job_s", "driver_s"),
    "readers.read_bronze_batch": ("calls", "self_s", "jobs", "job_s", "driver_s"),
    "silver.build_silver_tables": ("calls", "self_s"),
    "transaction.write": ("calls", "self_s", "jobs", "job_s", "driver_s", "shuffle_bytes"),
    "gold.write_gold_tables": ("calls", "self_s", "jobs", "job_s", "driver_s", "shuffle_bytes"),
    "flat_view.articles_flat_view": ("calls", "self_s"),
    "writers.serving_export": ("calls", "self_s", "jobs", "job_s", "driver_s"),
    "ingest.stream": ("calls", "self_s", "jobs", "job_s", "driver_s"),
    "transaction.merge": ("calls", "self_s", "jobs", "job_s", "driver_s", "shuffle_bytes"),
    "transaction.files_for": ("calls", "self_s"),
    "transaction.read.lookup": ("calls", "self_s", "jobs", "job_s", "driver_s"),
    "transaction.read.scan": ("calls", "self_s", "jobs", "job_s", "driver_s"),
    "transaction.changes": ("calls", "self_s", "jobs", "job_s", "driver_s", "shuffle_bytes"),
    "transaction.compact": ("calls", "self_s", "jobs", "job_s", "driver_s", "shuffle_bytes"),
    "textmetrics.quality_metrics": ("calls", "self_s", "jobs", "job_s", "driver_s", "python_cpu_s"),
    "dedupe.minhash_near_duplicates": (
        "calls", "self_s", "jobs", "job_s", "driver_s", "shuffle_bytes", "python_cpu_s"),
    "dedupe.dedup_survivors": ("calls", "self_s", "jobs", "job_s", "driver_s", "shuffle_bytes"),
    "similarity.embedding_near_duplicates": (
        "calls", "self_s", "jobs", "job_s", "driver_s", "shuffle_bytes", "python_cpu_s"),
}
#: counters measured where the work happens, reported beside the spans
COUNTERS = (
    "session.peak_rss_mb",
    "transaction.lookup_files_kept_ratio",
    "transaction.compact_bytes_rewritten",
    "transaction.write_amp",
)


def layer_metric_names() -> list[str]:
    names = [f"{s}.{m}" for s, ms in LAYER_MEASURES.items() for m in ms]
    return names + list(COUNTERS)


def unit(name: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if name.endswith((".calls", ".jobs")):
        return "count"
    if name.endswith("bytes") or name.endswith("bytes_rewritten"):
        return "B"
    if name.endswith(("_ratio", "_amp")):
        return "ratio"
    return "MB" if name.endswith("_mb") else "s"


# --- /proc ------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root``'s descendants (the Spark driver
    JVM and the Python workers it forks)."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds used so far by the Python processes under ``root``,
    reaped children included (a reused worker's CPU lands in its
    daemon's cutime/cstime when it exits)."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / TICK


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` in bytes."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root, self.interval, self.peak = root, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- spans ------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int
    phase: str
    end: float = 0.0
    py_cpu: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Keeps spans in memory when enabled; a disabled tracer records
    nothing, so the untraced run pays one attribute test per span."""

    def __init__(self, enabled: bool, root_pid: int):
        self.enabled = enabled
        self.root_pid = root_pid
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._ops = 0

    @contextlib.contextmanager
    def span(self, name: str):
        """A span; one opened with no span open starts a new op."""
        if not self.enabled:
            yield
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            if parent is None:
                self._ops += 1
            op_id = self._ops if parent is None else self.spans[parent].op
            sp = Span(name, 0.0, parent, op_id, self.phase)
            idx = len(self.spans)
            self.spans.append(sp)
            if parent is not None:
                self.spans[parent].children.append(idx)
            self._stack.append(idx)
        cpu0 = python_worker_cpu_s(self.root_pid) if name in PY_BOUNDARY else 0.0
        sp.start = time.time()
        try:
            yield
        finally:
            sp.end = time.time()
            if name in PY_BOUNDARY:
                sp.py_cpu = python_worker_cpu_s(self.root_pid) - cpu0
            with self._lock:
                self._stack.remove(idx)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


def instrument(tracer: Tracer) -> contextlib.ExitStack:
    """Wrap the table-layer methods the package calls on its own (the
    stream sink's merge, the scan planning inside every read) in spans;
    the benchmark wraps its direct calls itself. Undone on exit."""
    from news_lakehouse_spark.sources.transaction import VersionedParquetTable as T

    undo = contextlib.ExitStack()
    for attr, name in (("merge", "transaction.merge"), ("files_for", "transaction.files_for")):
        orig = T.__dict__[attr]
        setattr(T, attr, tracer.wrap(name, orig))
        undo.callback(setattr, T, attr, orig)
    return undo


# --- self time and attribution ----------------------------------------------

def union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_intervals(spans: list[Span], idx: int) -> list[tuple[float, float]]:
    """The parts of span ``idx`` that none of its children cover."""
    sp = spans[idx]
    out, at = [], sp.start
    for s, e in sorted((spans[c].start, spans[c].end) for c in sp.children):
        if s > at:
            out.append((at, min(s, sp.end)))
        at = max(at, e)
    if at < sp.end:
        out.append((at, sp.end))
    return out


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def innermost(spans: list[Span], starts: list[float], order: list[int], t: float) -> int | None:
    """Index of the innermost span open at time ``t``."""
    k = bisect.bisect_right(starts, t) - 1
    idx = order[k] if k >= 0 else None
    while idx is not None and spans[idx].end < t:
        idx = spans[idx].parent
    return idx


@dataclass
class Job:
    submit: float
    end: float
    stages: list  # stage keys into the shuffle-bytes map


def read_event_logs(log_dir: str) -> tuple[dict, dict]:
    """(jobs, shuffle bytes written per stage) from every event log in
    ``log_dir``, keyed by (log, id) because ids restart with every
    SparkContext; times in seconds since the epoch."""
    jobs: dict = {}
    shuffle: dict = {}
    logs = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
                  if not n.startswith("."))
    for name in logs:
        app: dict = {}
        with open(name) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    app[ev["Job ID"]] = Job(ev["Submission Time"] / 1000, 0.0, ev["Stage IDs"])
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in app:
                    app[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    w = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    key = (name, ev["Stage ID"])
                    shuffle[key] = shuffle.get(key, 0) + w.get("Shuffle Bytes Written", 0)
        for jid, job in app.items():
            job.stages = [(name, s) for s in job.stages]
            jobs[(name, jid)] = job
    return jobs, shuffle


@dataclass
class SpanCost:
    self_s: float = 0.0
    job_s: float = 0.0
    jobs: int = 0
    shuffle_bytes: int = 0


def span_costs(spans: list[Span], jobs: dict, shuffle: dict) -> tuple[list[SpanCost], int]:
    """Per-span self time and the jobs attributed to it; also returns
    the number of jobs submitted outside every span."""
    costs = [SpanCost() for _ in spans]
    selfs = [self_intervals(spans, i) for i in range(len(spans))]
    for i, iv in enumerate(selfs):
        costs[i].self_s = sum(e - s for s, e in iv)
    order = sorted(range(len(spans)), key=lambda i: spans[i].start)
    starts = [spans[i].start for i in order]
    owned: dict[int, list[tuple[float, float]]] = {}
    stray = 0
    for job in jobs.values():
        idx = innermost(spans, starts, order, job.submit)
        if idx is None:
            stray += 1
            continue
        c = costs[idx]
        c.jobs += 1
        c.shuffle_bytes += sum(shuffle.get(s, 0) for s in job.stages)
        end = job.end or spans[idx].end  # a job never ended: bound by its span
        owned.setdefault(idx, []).extend(clip(selfs[idx], job.submit, end))
    for idx, iv in owned.items():
        costs[idx].job_s = union_length(iv)
    return costs, stray


def op_accounting(spans: list[Span], costs: list[SpanCost]) -> float:
    """Largest gap, over all ops, between an op's wall time and the sum
    of the self times of its spans (zero up to float rounding)."""
    wall: dict[int, float] = {}
    summed: dict[int, float] = {}
    for sp, c in zip(spans, costs):
        if sp.parent is None:
            wall[sp.op] = wall.get(sp.op, 0.0) + sp.end - sp.start
        summed[sp.op] = summed.get(sp.op, 0.0) + c.self_s
    return max((abs(wall[o] - summed.get(o, 0.0)) for o in wall), default=0.0)


def layer_metrics(spans: list[Span], costs: list[SpanCost]) -> dict[str, float]:
    """Per-layer measures: ``calls`` is the count in the timed phase
    (the session spans count in set-up, the only place they run); every
    other measure is a mean per call."""
    acc: dict[str, dict[str, float]] = {}
    for sp, c in zip(spans, costs):
        if sp.name not in LAYER_MEASURES:
            continue
        if sp.phase != "timed" and not sp.name.startswith("session."):
            continue
        a = acc.setdefault(sp.name, {m: 0.0 for m in LAYER_MEASURES[sp.name]})
        a["calls"] += 1
        vals = {"self_s": c.self_s, "jobs": c.jobs, "job_s": c.job_s,
                "driver_s": c.self_s - c.job_s, "shuffle_bytes": c.shuffle_bytes,
                "python_cpu_s": sp.py_cpu}
        for m in a:
            if m != "calls":
                a[m] += vals[m]
    out = {}
    for name, measures in LAYER_MEASURES.items():
        a = acc.get(name)
        for m in measures:
            if a is None:
                out[f"{name}.{m}"] = 0
            elif m == "calls":
                out[f"{name}.{m}"] = int(a["calls"])
            else:
                out[f"{name}.{m}"] = a[m] / a["calls"]
    return out
