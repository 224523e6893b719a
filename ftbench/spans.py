"""Spans, Spark event-log figures and process-tree memory for one run.

Every call the benchmark makes into an engine layer goes through
``Tracer.span``, which always records (name, layer, start, end, parent,
op) in memory: the end-to-end timings are read from these records. With
tracing on, a span also tags the Spark jobs it launches with a job group
``ftb:<layer>:<span id>``, public entry points that the engine calls
internally are wrapped in spans (``instrument``), and the event log is
parsed at the end into per-layer task figures.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

_PROPS = ("spark.jobGroup.id", "spark.job.description")


class Tracer:
    """In-memory spans of one run; ``phase`` (setup, run, check) is stamped
    on each span so figures can be limited to the timed rounds."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, layer: str, name: str, op: int | None = None,
             jobs: bool = True):
        """Record one call; ``jobs=False`` marks a call that runs no Spark
        job, which then skips the job-group round trips to the JVM."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            parent = stack[-1] if stack else None
            if op is None and parent is not None:
                op = self.spans[parent]["op"]  # spans of one operation
            rec = {"id": sid, "name": name, "layer": layer, "op": op,
                   "parent": parent,
                   "phase": self.phase, "start": 0.0, "end": 0.0}
            self.spans.append(rec)
        old = None
        if self.enabled and jobs:
            old = [self.sc.getLocalProperty(k) for k in _PROPS]
            self.sc.setLocalProperty(_PROPS[0], f"ftb:{layer}:{sid}")
            self.sc.setLocalProperty(_PROPS[1], name)
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if old is not None:
                for k, v in zip(_PROPS, old, strict=True):
                    self.sc.setLocalProperty(k, v)

    def durations(self, name: str, phase: str = "run") -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["phase"] == phase]

    def wrap(self, owner, attr: str, layer: str, name: str, undo: list,
             jobs: bool = True):
        orig = getattr(owner, attr)

        def wrapped(*a, **kw):
            with self.span(layer, name, jobs=jobs):
                return orig(*a, **kw)

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        undo.append((owner, attr, orig))

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def instrument(tracer: Tracer) -> list:
    """Wrap the public entry points that the engine also calls from inside
    (reader opens and refreshes, term-dictionary lookups, manifest reads,
    merges). Returns the undo list for ``uninstrument``."""
    from kafka_connect_opensearch_spark.operators import merge
    from kafka_connect_opensearch_spark.operators.bm25 import IndexReader
    from kafka_connect_opensearch_spark.operators.positions import (
        PositionsReader,
    )
    from kafka_connect_opensearch_spark.operators.segments import SegmentStore

    undo: list = []
    for owner, attr, layer, jobs in [
        (IndexReader, "__init__", "bm25", False),
        (IndexReader, "refresh", "bm25", False),
        (IndexReader, "term_stats", "bm25", False),
        (PositionsReader, "term_entries", "positions", False),
        (SegmentStore, "active_segments", "segments", False),
        (merge, "reconcile_updates", "merge", True),
        (merge, "merge_segments", "merge", True),
    ]:
        short = owner.__name__.rsplit(".", 1)[-1]
        tracer.wrap(owner, attr, layer, f"{short}.{attr}", undo, jobs)
    return undo


def uninstrument(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# -- Spark event log ---------------------------------------------------------

def job_figures(event_dir: str, layer_of) -> dict[str, dict]:
    """Task figures per layer from the event log. ``layer_of`` maps a
    job's group to the layer it counts for, or None to leave it out."""
    stage_job: dict[int, str] = {}
    jobs: dict[str, set] = defaultdict(set)
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    paths = sorted(glob.glob(os.path.join(event_dir, "**", "events_*"),
                             recursive=True))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    layer = layer_of(group) or "other"
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = layer
                    jobs[layer].add(ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_job.get(ev["Stage ID"], "other")
                    m = ev.get("Task Metrics") or {}
                    a = acc[layer]
                    a["tasks"] += 1
                    a["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written",
                                                    0) / 1e6
                    a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 1e6
                    # SQL metrics "data sent to / returned from Python
                    # workers" of the Python UDF operators
                    for u in (ev.get("Task Info") or {}).get(
                            "Accumulables", []):
                        name = str(u.get("Name", ""))
                        if name.startswith("data ") and "Python" in name:
                            a["python_io_mb"] += float(u.get("Update")
                                                       or 0) / 1e6
    return {layer: {**acc[layer], "jobs": len(jobs[layer])}
            for layer in set(acc) | set(jobs)}


# -- memory ------------------------------------------------------------------

class PeakMemory:
    """Samples the summed proportional set size (PSS) of this process and
    all its descendants (the JVM and the Python workers) every
    ``interval`` seconds. PSS splits shared pages among the processes that
    map them, so forked workers, and a JVM child caught between fork and
    exec, are not counted twice as they would be by summed RSS."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def _tree_pss(self) -> int:
        children = defaultdict(list)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
        total, frontier = 0, [os.getpid()]
        while frontier:
            pid = frontier.pop()
            try:
                total += self._pss(pid)
            except (OSError, ValueError):
                continue  # exited between listing and reading
            frontier.extend(children[pid])
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
