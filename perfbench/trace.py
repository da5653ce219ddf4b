"""Spans, Spark job-group counters and the statistics the benchmark reports.

A span is one call from the benchmark into a layer of the package:
``{name, start, end, parent, request_id}`` plus the Spark counters of the
jobs that ran inside it. Each traced span runs under its own Spark job
group; right after the span the status store is read for that group's
jobs and their stages, because the store keeps only the last
``spark.ui.retainedJobs`` / ``retainedStages`` entries. A stage counts
once, for the span its group submitted it in: a job also lists the stages
whose output it reused, and the store reports those with their old
metrics.

Spans are kept in memory and written out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# per-stage fields of the status store's StageData, summed per span
STAGE_COUNTERS = {
    "tasks": lambda s: s.numCompleteTasks(),
    "exec_run_s": lambda s: s.executorRunTime() / 1e3,
    "exec_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "input_bytes": lambda s: s.inputBytes(),
    "output_bytes": lambda s: s.outputBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spill_bytes": lambda s: s.diskBytesSpilled(),
}
COUNTERS = ("jobs", "stages", *STAGE_COUNTERS)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request_id: int
    span_id: int
    layer: str = ""
    counters: dict[str, float] = field(default_factory=dict)
    # [start, end] of every stage the span's own job group ran
    stage_windows: list[tuple[float, float]] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around layer calls. Disabled, ``span`` only yields, so
    the untraced run pays nothing for it."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        self._next_request = 0
        self.bookkeeping_s = 0.0  # time spent setting job groups and reading the store
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def new_request(self) -> int:
        self._next_request += 1
        return self._next_request

    @contextmanager
    def span(self, name: str, request_id: int = 0, layer: str = ""):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name, 0.0, 0.0, parent.span_id if parent else None,
            request_id or (parent.request_id if parent else 0), len(self.spans),
            layer or name,
        )
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{s.span_id}"
        t0 = time.perf_counter()
        self._sc.setJobGroup(group, name)
        self.bookkeeping_s += time.perf_counter() - t0
        s.start = time.time()
        try:
            yield
        finally:
            s.end = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"perfbench-{parent.span_id}", parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._collect(s, group)
            self.bookkeeping_s += time.perf_counter() - t0

    def _collect(self, s: Span, group: str) -> None:
        # the listener bus applies job/stage events asynchronously: drain it
        # so the store holds the final metrics of every stage just run
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        counts = dict.fromkeys(COUNTERS, 0.0)
        job_ids = tracker.getJobIdsForGroup(group)
        counts["jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                stage = store.lastStageAttempt(sid)
                sub, done = stage.submissionTime(), stage.completionTime()
                # a job also lists the stages it reused; those ran before the
                # span began (in an enclosing span, or earlier) and show their
                # old attempt, so only a stage submitted inside the span counts
                if (
                    str(stage.status()) not in ("COMPLETE", "FAILED")
                    or not (sub.isDefined() and done.isDefined())
                    or sub.get().getTime() / 1e3 < s.start - 0.001  # ms clock
                ):
                    continue
                self._seen_stages.add(sid)
                counts["stages"] += 1
                for key, get in STAGE_COUNTERS.items():
                    counts[key] += get(stage)
                s.stage_windows.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        s.counters = counts

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def read_spans(path: str) -> list[Span]:
    with open(path) as f:
        return [Span(**{**d, "stage_windows": [tuple(w) for w in d["stage_windows"]]})
                for d in map(json.loads, f)]


# -- statistics ---------------------------------------------------------------

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """``(percentile, value)`` for the highest of ``TAIL_PERCENTILES`` that has
    at least ``min_beyond`` samples above it, or None when there are too few
    samples for any of them."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) >= 100.0 * min_beyond - 1e-6:  # (100 - 99.9) is inexact
            return p, percentile(values, p)
    return None


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` covered by the union of intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span id: its duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def subtree_counters(spans: list[Span], root: Span) -> dict[str, float]:
    """Counters summed over ``root`` and every span below it."""
    ids, out = {root.span_id}, dict.fromkeys(COUNTERS, 0.0)
    for s in spans:  # spans are recorded parent-first
        if s.span_id in ids or s.parent in ids:
            ids.add(s.span_id)
            for k in COUNTERS:
                out[k] += s.counters.get(k, 0.0)
    return out


def outside_stage_s(spans: list[Span], root: Span) -> float:
    """Wall time of ``root`` during which no stage of its subtree ran:
    planning, py4j calls, file listings and result collection."""
    ids, windows = {root.span_id}, []
    for s in spans:
        if s.span_id in ids or s.parent in ids:
            ids.add(s.span_id)
            windows.extend(s.stage_windows)
    return root.duration - covered(windows, root.start, root.end)


@dataclass
class Outcomes:
    """Operations attempted and failed (raised, or gave a wrong answer)."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
