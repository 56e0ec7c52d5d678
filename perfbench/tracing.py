"""Tracing from outside the program: in-memory spans, Spark engine
counters per timed operation and per lineage stage, process-tree RSS.

Nothing here edits gondar_spark. Spans come from wrappers installed
around public functions for the duration of a traced run
(``Tracer.instrument``); engine counters come from the JVM status store,
which Spark keeps with the UI disabled; stage intervals come from
``Pipeline.lineage()``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time

# lineage stage (of a one-shot build) -> the layer its wall belongs to
STAGE_LAYER = {
    "source": "extraction",
    "triples_raw": "extraction",
    "mentions": "linking",
    "edges": "linking",
    "labels": "operators.cc",
    "materialize": "operators.materialize/identity",
}
STAGES = tuple(STAGE_LAYER)
SPARK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb", "executor_run_s",
                  "executor_cpu_s")
# counters also kept per lineage stage (and for the unstaged remainder)
STAGE_COUNTERS = ("jobs", "tasks", "shuffle_write_mb", "shuffle_read_mb",
                  "executor_run_s")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Records spans (id, name, layer, start, end, parent) in
    memory. The parent is the innermost open span of the calling thread;
    spans opened on a thread with no open span (the pipeline's writer
    pools) hang off the current operation's root span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, root: bool = False):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": parent, "start": time.time(), "end": None}
        stack.append(sid)
        prev_root = self._root
        if root:
            self._root = sid
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if root:
                self._root = prev_root
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None) -> dict:
        rec = {"id": next(self._ids), "name": name, "layer": layer,
               "parent": parent, "start": start, "end": end}
        with self._lock:
            self.spans.append(rec)
        return rec

    def wrap(self, owner, attr: str, layer: str, patches: list) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(attr, layer):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        patches.append((owner, attr, fn))

    @contextlib.contextmanager
    def instrument(self):
        """Span every call into the public layer entry points for the
        duration of the block; the originals are restored on exit."""
        from gondar_spark.operators import cc
        from gondar_spark.pipeline import Pipeline
        from gondar_spark.sources.tables import TableIO

        patches: list = []
        try:
            for attr in ("run", "retract"):
                self.wrap(Pipeline, attr, "pipeline", patches)
            for attr in ("write", "append", "compact", "register"):
                self.wrap(TableIO, attr, "sources.tables", patches)
            for attr in ("connected_components", "incremental_components"):
                self.wrap(cc, attr, "operators.cc", patches)
            yield self
        finally:
            for owner, attr, fn in reversed(patches):
                setattr(owner, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(s) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per layer: span count, total time and self time. Self time is the
    span's time not covered by its own children; where spans from the
    pipeline's writer threads overlap, each instant is split evenly
    among the innermost spans open then, so the self times of one
    operation's spans add up to its wall."""
    has_kids = {s["parent"] for s in spans}
    edges = sorted({t for s in spans for t in (s["start"], s["end"])})
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s["layer"], {"spans": 0, "total_s": 0.0,
                                          "self_s": 0.0})
        row["spans"] += 1
        row["total_s"] += s["end"] - s["start"]
    for lo, hi in zip(edges, edges[1:]):
        live = [s for s in spans if s["start"] <= lo and hi <= s["end"]]
        busy = {s["parent"] for s in live}
        leaves = [s for s in live if s["id"] not in busy]
        for s in leaves:
            out[s["layer"]]["self_s"] += (hi - lo) / len(leaves)
    return out


# ---------------------------------------------------------------------------
# Spark engine counters
# ---------------------------------------------------------------------------


class SparkJobs:
    """Reads finished jobs and their stages from the JVM status store.
    Job ids are dense and increasing, so the jobs of one operation are
    the ids submitted between its start and its end; stage data is
    counted once per stage id (a stage a later job skips keeps its
    first run's numbers)."""

    def __init__(self, spark) -> None:
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.next_id = 0
        self._seen_stages: set[int] = set()
        self.sync()

    def _job(self, jid: int):
        try:
            return self.store.job(jid)
        except Exception:  # py4j: NoSuchElementException for unknown ids
            return None

    def sync(self) -> None:
        """Skip past every job already submitted."""
        while self._job(self.next_id) is not None:
            self.next_id += 1

    def collect(self) -> list[dict]:
        """Jobs submitted since the last call, each with its stages'
        counters summed."""
        jobs = []
        while True:
            jd = self._job(self.next_id)
            if jd is None:
                break
            self.next_id += 1
            sub = jd.submissionTime()
            job = {"id": jd.jobId(),
                   "submitted": (sub.get().getTime() / 1000.0
                                 if sub.isDefined() else None),
                   "stages": 0, "tasks": 0, "shuffle_write_mb": 0.0,
                   "shuffle_read_mb": 0.0, "spill_mb": 0.0,
                   "executor_run_s": 0.0, "executor_cpu_s": 0.0}
            sids = jd.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in self._seen_stages:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped, pending)
                    continue
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue
                self._seen_stages.add(sid)
                job["stages"] += 1
                job["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                job["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                job["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                job["spill_mb"] += (st.memoryBytesSpilled()
                                    + st.diskBytesSpilled()) / 2**20
                job["executor_run_s"] += st.executorRunTime() / 1e3
                job["executor_cpu_s"] += st.executorCpuTime() / 1e9
            jobs.append(job)
        return jobs


def sum_jobs(jobs: list[dict]) -> dict[str, float]:
    out = {c: 0.0 for c in SPARK_COUNTERS}
    out["jobs"] = float(len(jobs))
    for j in jobs:
        for c in SPARK_COUNTERS[1:]:
            out[c] += j[c]
    return out


def stage_of(ts: float | None, stage_spans: list[dict]) -> str:
    """The lineage stage whose interval holds ``ts`` (job submission
    time; the pipeline's writer threads carry no job group, so time is
    the only attribution that sees them), else 'other'."""
    if ts is not None:
        for st in stage_spans:
            if st["start"] - 0.005 <= ts <= st["end"] + 0.005:
                return st["name"]
    return "other"


# ---------------------------------------------------------------------------
# walk the warehouse (bytes and files written by a table op)
# ---------------------------------------------------------------------------


def tree_files(root: str) -> dict[str, int]:
    """path -> size of every data file under ``root`` (commit manifests
    and Spark's _SUCCESS/.crc side files excluded)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # removed by a concurrent swap
                pass
    return out


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------


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
        # the comm field may contain spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and its descendants,
    including children they already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def tree_rss_mb(root_pid: int) -> float:
    """Resident set of ``root_pid`` plus all its descendants (Python
    driver, the JVM it launched, and the JVM's Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


class PeakRss:
    """Samples the process tree's RSS on a daemon thread; ``peak_mb`` is
    the largest sample seen."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
