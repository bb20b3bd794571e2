"""Span recorder and Spark-counter reader for traced runs.

A span times one call into a layer from the benchmark's side. While the
span is open, the calling thread's Spark job group is the span's own id,
so every job the call submits carries it. Spans stay in memory; after the
run, ``resolve`` reads each group's jobs from Spark's status store and
derives:

- ``jobs``: jobs submitted under the span's group;
- ``task_cpu_s``, ``gc_s``: executor CPU and JVM GC time of their stages;
- ``shuffle_mb``: shuffle bytes written by their stages;
- ``driver_s``: span wall time not covered by any of its jobs' intervals
  (planning, py4j, driver-side Python).

With tracing off, ``span`` only times: no job group, no status reads.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    group: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def covered_s(intervals: list[tuple[float, float]], lo: float,
              hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        """Time the block; when tracing, tag its Spark jobs."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent.name if parent else None,
                  run_id=self.run_id,
                  group=f"{self.run_id}.{len(self.spans)}")
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def resolve(self) -> list[Span]:
        """Attach Spark counters to every span (call once, after the run)."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        seen: set[int] = set()  # a reused shuffle stage counts once
        for sp in self.spans:
            intervals, cpu_ns, gc_ms, shuffle_b = [], 0, 0, 0
            job_ids = sorted(tracker.getJobIdsForGroup(sp.group))
            for job_id in job_ids:
                job = store.job(job_id)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined():
                    end = (done.get().getTime() / 1000.0 if done.isDefined()
                           else sp.end)
                    intervals.append((sub.get().getTime() / 1000.0, end))
                stage_ids = job.stageIds()
                for k in range(stage_ids.size()):
                    sid = stage_ids.apply(k)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # stage evicted or never submitted
                        continue
                    cpu_ns += st.executorCpuTime()
                    gc_ms += st.jvmGcTime()
                    shuffle_b += st.shuffleWriteBytes()
            sp.counters = {
                "jobs": len(job_ids),
                "driver_s": sp.wall_s - covered_s(intervals, sp.start,
                                                  sp.end),
                "task_cpu_s": cpu_ns / 1e9,
                "gc_s": gc_ms / 1e3,
                "shuffle_mb": shuffle_b / 1e6,
            }
        return self.spans

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "wall_s": sp.wall_s}) + "\n")
