"""Spans around the benchmark's calls into the engine.

``Tracer`` keeps spans in memory (name, start, end, parent, run id) and
attributes Spark work to them through job groups: each traced span sets a
job group of its own for the calls it wraps, so every job Spark runs
inside the span lands in that group. After the run the tracer reads each
group's jobs and stages from Spark's status store (run time, CPU, GC,
shuffle and input bytes), which works with ``spark.ui.enabled=false``.

With tracing off the tracer only times the calls: it sets no job group
and reads no status store.

The interval arithmetic (``covered``, ``self_times``) is plain Python and
is tested on synthetic spans.
"""

from __future__ import annotations

import contextlib
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (comparable with Spark's job timestamps)
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str = ""
    stats: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(lo, a), min(hi, b)) for a, b in intervals if b > lo and a < hi
    )
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's wall minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.wall - covered(s.start, s.end, children.get(i, ())) for i, s in enumerate(spans)
    ]


# Per-span Spark counters, summed over the span's stages.
STAGE_FIELDS = ("tasks", "executor_cpu_s", "gc_s", "shuffle_bytes", "input_bytes")
SPAN_FIELDS = ("calls", "wall_s", "self_s", "driver_s", "jobs") + STAGE_FIELDS


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark  # may be set later: the session span precedes it
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer itself

    @contextlib.contextmanager
    def span(self, name: str):
        """Trace one call. Yields nothing; the span is recorded only when
        tracing is on."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext if self.spark is not None else None
        idx = len(self.spans)
        group = f"pb-{self.run_id}-{idx}"
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, run_id=self.run_id, group=group))
        self._stack.append(idx)
        if sc is not None:
            sc.setJobGroup(group, name)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[idx].end = time.time()
            self._stack.pop()
            if sc is None:
                pass
            elif parent is not None:
                sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - t1

    # ------------------------------------------------------------------ read
    def collect_stage_metrics(self) -> None:
        """Fill each span's Spark counters from the status store. Called
        once after the measured window, when the listener bus has caught
        up with the last job."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # private API; a short sleep is the fallback
            time.sleep(1.0)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        for s in self.spans:
            st = dict.fromkeys(STAGE_FIELDS, 0.0)
            intervals = []
            job_ids = tracker.getJobIdsForGroup(s.group)
            for j in job_ids:
                job = store.job(j)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # stage never ran (skipped)
                        continue
                    st["tasks"] += sd.numCompleteTasks()
                    st["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    st["gc_s"] += sd.jvmGcTime() / 1e3
                    st["shuffle_bytes"] += sd.shuffleWriteBytes()
                    st["input_bytes"] += sd.inputBytes()
            st["jobs"] = len(job_ids)
            st["job_s"] = covered(s.start, s.end, intervals)
            s.stats = st
        self.bookkeeping_s += time.perf_counter() - t0

    def layer_metrics(self) -> dict[str, float]:
        """Per span name: ``calls`` plus the per-call mean of every other
        field. ``self_s`` subtracts child spans; ``driver_s`` is the wall
        not covered by the span's own Spark jobs."""
        selfs = self_times(self.spans)
        agg: dict[str, dict[str, float]] = {}
        for s, self_s in zip(self.spans, selfs):
            a = agg.setdefault(s.name, dict.fromkeys(SPAN_FIELDS, 0.0))
            a["calls"] += 1
            a["wall_s"] += s.wall
            a["self_s"] += self_s
            a["driver_s"] += s.wall - s.stats.get("job_s", 0.0)
            for f in ("jobs",) + STAGE_FIELDS:
                a[f] += s.stats.get(f, 0.0)
        out = {}
        for name, a in agg.items():
            n = a["calls"]
            out[f"{name}.calls"] = n
            for f in SPAN_FIELDS[1:]:
                out[f"{name}.{f}"] = a[f] / n
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id, **s.stats}
            for s in self.spans
        ]
