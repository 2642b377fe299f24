"""Per-layer tracing from outside the program.

Two sources, neither of which changes a file of the engine:

1. Spark's JVM status store (``sc._jsc.sc().statusStore()``), which the
   listener bus fills even with the UI disabled. The engine labels its jobs
   ``r{round}:{phase}`` through ``setJobDescription``; ``PHASES`` maps each
   label to a metric name, and a label it does not know fails the traced
   run, so a renamed or split phase shows up instead of vanishing into
   "unlabelled".
2. ``CallRecorder``: wall time and call counts of public engine calls,
   recorded by wrapping them for the duration of a traced run.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# engine job label (the part after "r{N}:") -> phase metric name
PHASES = {
    "cand(expire+dedup)": "cand",
    "pruned-pop-count": "pruned_pop",
    "wave(topk)": "wave",
    "fetch+parse": "fetch_parse",
    "accounting": "accounting",
    "write-deltas": "write_deltas",
    "frontier-snapshot": "frontier_write",
    "frontier-delta": "frontier_write",
    "bloom-full-build": "bloom_build",
    "bloom-delta": "bloom_delta",
    "python-pool-warmup": "pool_warmup",
}
PHASE_NAMES = tuple(dict.fromkeys(PHASES.values()))
PHASE_FIELDS = ("busy_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb", "spill_mb")

_LABEL = re.compile(r"^r(\d+):(.+)$")


class UnmappedLabel(RuntimeError):
    """The engine emitted a job label this benchmark has no phase for."""


def phase_of(description: str | None) -> str | None:
    """Phase metric name for a job description; None for jobs the engine
    did not label (the benchmark's own jobs run with no description)."""
    if not description:
        return None
    m = _LABEL.match(description)
    if not m:
        return None
    try:
        return PHASES[m.group(2)]
    except KeyError:
        raise UnmappedLabel(
            f"engine job label {description!r} has no phase in PHASES"
        ) from None


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals: concurrent jobs count
    once, so a phase's busy time never exceeds the wall it spans."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to the window [lo, hi]; those outside it are dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class Job:
    job_id: int
    description: str | None
    start: float  # epoch seconds
    end: float
    stage_ids: list[int]


@dataclass
class Stage:
    tasks: int
    cpu_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int


@dataclass
class StatusStore:
    jobs: list[Job]
    stages: dict[int, Stage] = field(default_factory=dict)

    @classmethod
    def read(cls, spark) -> StatusStore:
        """Snapshot every finished job and stage attempt in the store."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        jobs = []
        for j in conv.asJava(store.jobsList(None)):
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            d = j.description()
            jobs.append(
                Job(
                    job_id=j.jobId(),
                    description=d.get() if d.isDefined() else None,
                    start=sub.get().getTime() / 1000.0,
                    end=done.get().getTime() / 1000.0,
                    stage_ids=list(conv.asJava(j.stageIds())),
                )
            )
        defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        stages: dict[int, Stage] = {}
        for s in conv.asJava(store.stageList(None, *defaults)):
            prev = stages.get(s.stageId())
            cur = Stage(
                tasks=s.numCompleteTasks(),
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                shuffle_bytes=s.shuffleWriteBytes(),
                spill_bytes=s.diskBytesSpilled(),
            )
            if prev is not None:  # retried stage: sum its attempts
                cur = Stage(*(a + b for a, b in zip(vars(prev).values(), vars(cur).values())))
            stages[s.stageId()] = cur
        return cls(sorted(jobs, key=lambda j: j.job_id), stages)


def engine_breakdown(store: StatusStore, windows) -> dict:
    """Per-phase job metrics for the jobs submitted inside the timed
    ``windows`` ((start, end) epoch pairs), plus the driver gap: window
    time during which no job ran at all."""
    out: dict[str, float] = {f"{p}.{f}": 0.0 for p in PHASE_NAMES for f in PHASE_FIELDS}
    wall = gap = labelled_busy = 0.0
    n_jobs = 0
    for lo, hi in windows:
        window = [j for j in store.jobs if lo <= j.start <= hi]
        by_phase: dict[str, list[Job]] = defaultdict(list)
        for j in window:
            by_phase[phase_of(j.description)].append(j)
        for p, jobs in by_phase.items():
            if p is None:
                continue
            stages = [store.stages[s] for j in jobs for s in set(j.stage_ids) if s in store.stages]
            out[f"{p}.busy_s"] += union_seconds(clip([(j.start, j.end) for j in jobs], lo, hi))
            out[f"{p}.jobs"] += len(jobs)
            out[f"{p}.tasks"] += sum(s.tasks for s in stages)
            out[f"{p}.cpu_s"] += sum(s.cpu_s for s in stages)
            out[f"{p}.gc_s"] += sum(s.gc_s for s in stages)
            out[f"{p}.shuffle_mb"] += sum(s.shuffle_bytes for s in stages) / (1 << 20)
            out[f"{p}.spill_mb"] += sum(s.spill_bytes for s in stages) / (1 << 20)
        labelled = [(j.start, j.end) for p, js in by_phase.items() if p for j in js]
        wall += hi - lo
        gap += (hi - lo) - union_seconds(clip([(j.start, j.end) for j in window], lo, hi))
        labelled_busy += union_seconds(clip(labelled, lo, hi))
        n_jobs += len(window)
    out["driver_gap_s"] = gap
    out["jobs"] = n_jobs
    out["attributed_share"] = (labelled_busy + gap) / wall if wall > 0 else 0.0
    return out


class CallRecorder:
    """Wraps named attributes (module functions or class methods) for the
    duration of a ``with`` block and records per-name seconds and calls.
    Thread-safe: the engine issues its writes from a thread pool."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.last_result: object = None  # of the last call with keep_result
        self._lock = threading.Lock()

    def _wrap(self, name: str, fn, keep_result: bool):
        def wrapper(*args, **kw):
            t0 = time.perf_counter()
            try:
                res = fn(*args, **kw)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.seconds[name] += dt
                    self.calls[name] += 1
            if keep_result:
                self.last_result = res
            return res

        wrapper.__wrapped__ = fn
        return wrapper

    @contextmanager
    def patch(self, targets):
        """``targets``: (owner, attribute, metric name, keep_result) tuples."""
        saved = []
        try:
            for owner, attr, name, keep in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(name, orig, keep))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)
