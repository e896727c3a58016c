"""Spans, statistics and Spark status-store readers for the benchmark.

Spans are recorded only by the benchmark's own code, around its calls
into the engine, and are kept in memory until the run writes them out.
Spark jobs and stages are read back from the AppStatusStore after the
fact and placed on the same clock, so a span's self time (its duration
minus the part of it covered by child spans) separates driver-side
Python from the Spark jobs it started.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import time
from dataclasses import asdict, dataclass, field

# Percentiles considered for a tail figure, highest first. No workload
# reports a tail yet: the open-loop scrape and freshness latencies it is
# meant for are not measured (a catch-up run has about ten epochs).
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 50.0)
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least TAIL_MIN_BEYOND samples
    beyond it out of n, or None when even the median lacks them."""
    for p in TAIL_PERCENTILES:
        # n * (100 - p) / 100 samples lie beyond p; compared in hundredths
        # with a rounding allowance so 100 samples qualify for p90
        if n * (100 - p) >= TAIL_MIN_BEYOND * 100 - 1e-6:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
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


def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy) jiffies summed over all CPUs since boot, from
    /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time the machine wanted between two cpu_ticks()
    readings that the hypervisor gave to another guest instead."""
    steal, busy = (b - a for a, b in zip(before, after))
    return steal / (steal + busy) if steal + busy > 0 else 0.0


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def assign_parents(spans: list[Span]) -> None:
    """Give every parentless span the shortest other span that contains
    it (on a shared clock, containment is causation for this run's
    single-threaded drivers). Ties go to the span recorded first."""
    by_len = sorted(spans, key=lambda s: (s.dur, s.id))
    for s in spans:
        if s.parent is not None:
            continue
        for cand in by_len:
            if (
                cand.id != s.id
                and cand.start <= s.start
                and s.end <= cand.end
                and cand.dur > s.dur
            ):
                s.parent = cand.id
                break


class Tracer:
    """In-memory span recorder on the perf_counter clock. When disabled,
    span() is a no-op so the timed runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        # wall-clock epoch seconds minus perf_counter, for JVM timestamps
        self.offset = time.time() - time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> Span | None:
        if not self.enabled:
            return None
        s = Span(next(self._ids), name, start, end, None, attrs)
        self.spans.append(s)
        return s

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            self.add(name, t0, time.perf_counter(), **attrs)

    def from_epoch_ms(self, ms: float) -> float:
        return ms / 1000.0 - self.offset

    def dump(self, path: str) -> None:
        assign_parents(self.spans)
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                row = asdict(s)
                row["self"] = st[s.id]
                f.write(json.dumps(row) + "\n")


# ---------------------------------------------------------------------------
# AppStatusStore readers
# ---------------------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def wait_listener_bus(spark) -> None:
    """Let the status store catch up with the events of finished jobs."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # private API: fall back to a short settle
        time.sleep(0.5)


def stage_rows(spark, keys: set | None = None) -> list[dict]:
    """Stages in the status store, optionally only the given
    (stage_id, attempt_id) keys, as plain dicts."""
    sc = spark.sparkContext
    jvm = sc._jvm
    seq = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = []
    for i in range(seq.size()):
        s = seq.apply(i)
        key = (s.stageId(), s.attemptId())
        if keys is not None and key not in keys:
            continue
        out.append(
            {
                "key": key,
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "gc_ms": s.jvmGcTime(),
                "input_records": s.inputRecords(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.diskBytesSpilled() + s.memoryBytesSpilled(),
                "start_ms": _opt_ms(s.submissionTime()),
                "end_ms": _opt_ms(s.completionTime()),
            }
        )
    return out


def job_rows(spark, since_id: int) -> list[dict]:
    """Jobs with id > since_id, with their wall interval in epoch ms."""
    sc = spark.sparkContext
    seq = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() <= since_id:
            continue
        start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if start is None or end is None:
            continue
        out.append({"id": j.jobId(), "start_ms": start, "end_ms": end})
    return out


def last_job_id(spark) -> int:
    ids = [j["id"] for j in job_rows(spark, -1)]
    return max(ids, default=-1)
