"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside: wall clocks around calls,
Spark's status tracker and status store for job/stage/task counts, and
directory snapshots for bytes written. None of it changes what the engine
does; the costly parts (job-group reads, snapshots, spans) run only when
tracing is on.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in (0, 100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def spread(xs) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3-Q1)/median) as the steadiness gate computes it."""
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, ((q3 - q1) / med if med else float("inf"))


# ---------------------------------------------------------------------------
# operation accounting (failed_op_ratio)
# ---------------------------------------------------------------------------


class Ops:
    """Attempted / failed operation counts per layer. Thread-safe: the
    concurrent search clients record into one instance."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.errors: list[str] = []

    def record(self, layer: str, ok: bool, why: str = "") -> None:
        with self._lock:
            self.attempted[layer] = self.attempted.get(layer, 0) + 1
            if not ok:
                self.failed[layer] = self.failed.get(layer, 0) + 1
                if len(self.errors) < 20:
                    self.errors.append(f"{layer}: {why}")

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())


# ---------------------------------------------------------------------------
# tracing: driver-side spans around calls into the engine
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    request: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled, every method is a cheap no-op
    apart from the clock reads the caller needs anyway."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    @contextmanager
    def span(self, name: str, request: str | None = None,
             parent: Span | None = None, **attrs):
        """Times the block; yields the Span (None when disabled), whose
        ``attrs`` the caller may extend with counts. Parent and request id
        come from the enclosing span of the same thread, unless ``parent``
        names a span of another thread."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = parent or (stack[-1] if stack else None)
        sid = self._new_id()
        if request is None and parent is not None:
            request = parent.request
        sp = Span(name, time.perf_counter(), 0.0, sid,
                  parent.span_id if parent else None, request, attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, start: float, end: float, parent: Span | None,
            **attrs) -> None:
        """Record an already-finished interval (e.g. a Spark job taken from
        the status store) as a child of ``parent``."""
        if not self.enabled:
            return
        sp = Span(name, start, end, self._new_id(),
                  parent.span_id if parent else None,
                  parent.request if parent else None, attrs)
        with self._lock:
            self.spans.append(sp)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total duration and self time (duration
        minus the part of the interval covered by its child spans)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s.end - s.start
            covered = _covered(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in children.get(s.span_id, [])]
            )
            row = out.setdefault(s.name, {"count": 0, "total_s": 0.0,
                                          "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += max(0.0, dur - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "name": s.name, "id": s.span_id, "parent": s.parent,
                    "request": s.request,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6), **s.attrs,
                }) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [a, b) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# Spark work per call, read from outside
# ---------------------------------------------------------------------------


@dataclass
class SparkWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_s: float = 0.0  # wall covered by the call's jobs (union of intervals)


class SparkCounter:
    """Counts the Spark jobs a call ran, read from outside the engine.

    ``group()`` tags the calling thread's jobs with a job group (local
    properties are per thread, so concurrent clients do not see each
    other's jobs). ``window()`` takes every job id the scheduler hands out
    during the call instead; it also catches jobs run on other threads
    (streaming micro-batches, the reader's parallel warm-up) and is exact
    whenever one caller runs at a time. Job intervals come from the status
    store, which keeps running with ``spark.ui.enabled=false``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._seq = 0
        self._lock = threading.Lock()

    def _next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def group(self):
        with self._lock:
            self._seq += 1
            gid = f"perfbench-{self._seq}"
        self.sc.setJobGroup(gid, gid, False)
        ids: list[int] = []
        try:
            yield ids
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            ids.extend(self.sc.statusTracker().getJobIdsForGroup(gid))

    @contextmanager
    def window(self):
        ids: list[int] = []
        first = self._next_job_id()
        try:
            yield ids
        finally:
            ids.extend(range(first, self._next_job_id()))

    def work(self, ids: list[int], tracer: Tracer | None = None,
             parent: Span | None = None) -> SparkWork:
        store = self.sc._jsc.sc().statusStore()
        w = SparkWork()
        intervals = []
        # perf_counter and the status store's epoch clock differ by a
        # constant; map job times onto perf_counter for the trace
        offset = time.perf_counter() - time.time()
        for jid in sorted(ids):
            jd = store.job(jid)
            w.jobs += 1
            w.stages += jd.stageIds().size() - jd.numSkippedStages()
            w.tasks += jd.numTasks() - jd.numSkippedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                a = sub.get().getTime() / 1000.0
                b = done.get().getTime() / 1000.0
                intervals.append((a, b))
                if tracer is not None:
                    tracer.add("spark.job", a + offset, b + offset, parent,
                               job=jid)
        w.job_s = _covered(intervals)
        return w

    def cached_bytes(self) -> int:
        return int(sum(
            r.memSize() + r.diskSize()
            for r in self.sc._jsc.sc().getRDDStorageInfo()
        ))


# ---------------------------------------------------------------------------
# storage accounting: split objects are immutable, so new keys = bytes written
# ---------------------------------------------------------------------------


def snapshot(root: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                pass  # a temp file renamed away mid-walk
    return out


@dataclass
class Delta:
    """What one write-side call did to the index directory. Objects and
    bytes count split artifacts only; manifest writes count as commits."""

    bytes_written: int = 0
    objects_written: int = 0
    objects_deleted: int = 0
    txn_commits: int = 0

    def __iadd__(self, o: "Delta") -> "Delta":
        self.bytes_written += o.bytes_written
        self.objects_written += o.objects_written
        self.objects_deleted += o.objects_deleted
        self.txn_commits += o.txn_commits
        return self


MANIFEST_DIR = "manifest" + os.sep
TXN_DIR = os.path.join("manifest", "_txn")


def diff(before: dict[str, int], after: dict[str, int]) -> Delta:
    new = [k for k in after if k not in before]
    split_new = [k for k in new if not k.startswith(MANIFEST_DIR)]
    return Delta(
        bytes_written=sum(after[k] for k in split_new),
        objects_written=len(split_new),
        objects_deleted=sum(1 for k in before
                            if k not in after and not k.startswith(MANIFEST_DIR)),
        txn_commits=sum(
            1 for k in new
            if k.startswith(TXN_DIR) and k.endswith(".json")
            and not os.path.basename(k).startswith("_")
        ),
    )


def dir_bytes(root: str) -> int:
    return sum(snapshot(root).values())


def host_steal_s() -> float | None:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (Linux /proc/stat); None where unavailable. A host-noise diagnostic."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None
