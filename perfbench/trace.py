"""In-memory spans and Spark/JVM counters, recorded from outside the
program.

Spans are opened around calls into the program's public functions
(the benchmark wraps them on the instance; no program file is edited)
and kept in a list until the run ends. A span that starts in a thread
with no open span — the pipeline's fan-out and compaction pool
threads — takes the innermost span opened with ``ambient=True`` as its
parent, so sink writes nest under the micro-batch that submitted them.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    run_id: str
    thread: str


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a
    pass-through, so the untraced run pays one attribute check."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._ambient: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, ambient: bool = False, root: bool = False):
        """A span around the ``with`` body. ``ambient`` makes it the
        parent of spans opened in threads with no open span; ``root``
        gives it no parent (work not caused by the open spans, such as
        background compaction)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif root:
            parent = None
        else:
            with self._lock:
                parent = self._ambient[-1] if self._ambient else None
        sid = next(self._ids)
        stack.append(sid)
        if ambient:
            with self._lock:
                self._ambient.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if ambient:
                with self._lock:
                    self._ambient.remove(sid)
            with self._lock:
                self.spans.append(
                    Span(sid, parent, name, start, end, self.run_id,
                         threading.current_thread().name)
                )

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` (on the instance) with a spanned call."""
        if not self.enabled:
            return
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, attr, spanned)

    # -- analysis --------------------------------------------------------

    def named(self, prefix: str, since: float = float("-inf")) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix) and s.start >= since]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its children cover (children running
        in parallel threads are merged before subtracting)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                children.setdefault(s.parent_id, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])]
            covered = union_length([k for k in kids if k[1] > k[0]])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


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


class SparkCounters:
    """Job/task/byte counts from Spark's status store, and JVM GC and
    heap figures, read over an interval. Job ranges come from the
    scheduler's job-id counter, so jobs submitted from pool threads
    without a job group are still counted."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._mf = self.sc._jvm.java.lang.management.ManagementFactory

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs just run."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int, skip_group: str | None = None) -> dict:
        """Totals over job ids [lo, hi): jobs, completed tasks, and
        input/shuffle/spill bytes of their stages. Jobs whose group is
        ``skip_group`` are left out."""
        store = self._jsc.statusStore()
        out = {"jobs": 0, "tasks": 0, "input_bytes": 0, "shuffle_bytes": 0,
               "spill_bytes": 0}
        seen_stages = set()
        for jid in range(lo, hi):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: job evicted
                continue
            group = job.jobGroup()
            if skip_group is not None and group.isDefined() and group.get() == skip_group:
                continue
            out["jobs"] += 1
            out["tasks"] += int(job.numCompletedTasks())
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = int(stage_ids.apply(k))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException: stage skipped
                    continue
                out["input_bytes"] += int(st.inputBytes())
                out["shuffle_bytes"] += int(st.shuffleReadBytes()) + int(st.shuffleWriteBytes())
                out["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return out

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def reset_heap_peak(self) -> None:
        for p in self._mf.getMemoryPoolMXBeans():
            if p.getType().toString() == "Heap memory":
                p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(
            p.getPeakUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
        ) / 2**20

    def gc_barrier(self) -> None:
        import gc

        gc.collect()
        self.sc._jvm.System.gc()
