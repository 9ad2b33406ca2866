"""Spans around engine calls, with Spark counters read from outside.

Each span runs its calls under a job group of its own
(``SparkContext.setJobGroup``). When the span ends, the tracer waits for
the listener bus to drain, then reads the group's jobs from
``statusTracker`` and each job's stages from the status store
(``statusStore().lastStageAttempt``):

 - ``jobs``: jobs started in the span;
 - ``tasks``: tasks run by their stages (skipped stages run none);
 - ``shuffle_write_mb``: shuffle bytes written, in MB (10^6 bytes);
 - ``executor_run_s``: summed task run time on the executors;
 - ``wall_s``: the span's wall time;
 - ``driver_gap_s``: wall time minus the union of its stages' run
   intervals, i.e. time in which no stage of the span was running.

Counters are inclusive: a parent span adds up its children. Spans stay in
memory (name, start, end, parent, run id and counters) and are written
out once, by ``dump``, when the run ends. A disabled tracer opens no job
group and reads nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("wall_s", "jobs", "tasks", "shuffle_write_mb", "executor_run_s", "driver_gap_s")


@dataclass
class Span:
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    executor_run_ms: int = 0
    # stage run intervals (epoch seconds), own and children's
    stages: list[tuple[float, float]] = field(default_factory=list, repr=False)

    @property
    def shuffle_write_mb(self) -> float:
        return self.shuffle_write_bytes / 1e6

    @property
    def executor_run_s(self) -> float:
        return self.executor_run_ms / 1e3

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_gap_s(self) -> float:
        return self.wall_s - _covered(self.stages, self.start, self.end)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the session's SparkContext (``None`` detaches: spans
        then record wall time only)."""
        self._sc = None if spark is None else spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, self.run_id, parent, time.time())
        self.spans.append(sp)
        self._stack.append(idx)
        group = f"{self.run_id}-{idx}"
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._read_counters(sp, group)
                if parent is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                else:
                    self._sc.setJobGroup(f"{self.run_id}-{parent}", self.spans[parent].name)
            if parent is not None:
                p = self.spans[parent]
                p.jobs += sp.jobs
                p.tasks += sp.tasks
                p.shuffle_write_bytes += sp.shuffle_write_bytes
                p.executor_run_ms += sp.executor_run_ms
                p.stages.extend(sp.stages)

    def _read_counters(self, sp: Span, group: str) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j: stage never submitted (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                sp.tasks += st.numCompleteTasks() + st.numFailedTasks()
                sp.shuffle_write_bytes += st.shuffleWriteBytes()
                sp.executor_run_ms += st.executorRunTime()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.stages.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )

    # -- summaries ------------------------------------------------------
    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: every counter summed over its calls, plus the
        number of calls."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            agg = out.setdefault(sp.name, {c: 0 for c in COUNTERS} | {"calls": 0})
            agg["calls"] += 1
            for c in COUNTERS:
                agg[c] += getattr(sp, c)
        return out

    def roots(self) -> list[Span]:
        return [sp for sp in self.spans if sp.parent is None]

    def dump(self, write) -> None:
        """Write every span as one JSON line through ``write``."""
        for i, sp in enumerate(self.spans):
            rec = {k: v for k, v in asdict(sp).items() if k != "stages"}
            rec |= {"id": i} | {c: getattr(sp, c) for c in COUNTERS}
            write("span " + json.dumps(rec, sort_keys=True))
