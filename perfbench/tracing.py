"""Spans and Spark engine counters for the traced benchmark run.

Spans are recorded by the benchmark around its own calls into each
``dqc_spark`` module; nothing inside the package is instrumented.  They
live in memory and are written out once, when the run ends.

Engine counters come from the driver's application status store
(``SparkContext.statusStore``), which is populated with the UI disabled.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  A span is (op, name, start, end, parent);
    spans of one benchmark op share its ``op`` id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "op": self.op,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def of_op(self, op: int) -> dict[str, dict]:
        """Span name -> {busy_s, self_s} for one op (names are unique
        within an op)."""
        spans = [s for s in self.spans if s["op"] == op]
        out = {}
        for s in spans:
            busy = s["end"] - s["start"]
            children = sum(c["end"] - c["start"] for c in spans
                           if c["parent"] == s["id"])
            out[s["name"]] = {"busy_s": busy, "self_s": busy - children}
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _option_ms(opt) -> int | None:
    """scala Option[java.util.Date] -> epoch ms (None when empty)."""
    return opt.get().getTime() if opt.isDefined() else None


class EngineCounters:
    """Reads per-stage task metrics for the stages and jobs that started
    after the last ``mark()``.  The status store lists newest first."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._cores = sc.defaultParallelism
        self._stage_mark = self._job_mark = -1
        self.mark()

    def _stages(self):
        return self._store.stageList(None, False, False,
                                     self._no_quantiles, None)

    def mark(self) -> None:
        stages, jobs = self._stages(), self._store.jobsList(None)
        self._stage_mark = stages.apply(0).stageId() if stages.length() else -1
        self._job_mark = jobs.apply(0).jobId() if jobs.length() else -1

    def stage_intervals(self, now_ms: int) -> list[tuple[int, int]]:
        """[submitted, completed) of every stage since the mark; a stage
        still running ends at ``now_ms``."""
        out = []
        stages = self._stages()
        for i in range(stages.length()):
            s = stages.apply(i)
            if s.stageId() <= self._stage_mark:
                break
            start = _option_ms(s.submissionTime())
            if start is not None:
                end = _option_ms(s.completionTime())
                out.append((start, now_ms if end is None else end))
        return out

    def since_mark(self, wall_s: float, t0_ms: int, t1_ms: int) -> dict:
        """Engine counters for the op that ran in [t0_ms, t1_ms]."""
        c = {"spark.stages": 0, "spark.tasks": 0, "spark.task_s": 0.0,
             "spark.task_cpu_s": 0.0, "spark.gc_s": 0.0,
             "spark.input_bytes": 0, "spark.shuffle_write_bytes": 0,
             "spark.shuffle_read_bytes": 0, "spark.spill_bytes": 0}
        stages = self._stages()
        for i in range(stages.length()):
            s = stages.apply(i)
            if s.stageId() <= self._stage_mark:
                break
            if s.numTasks() == 0 or s.status().toString() == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            c["spark.task_s"] += s.executorRunTime() / 1e3
            c["spark.task_cpu_s"] += s.executorCpuTime() / 1e9
            c["spark.gc_s"] += s.jvmGcTime() / 1e3
            c["spark.input_bytes"] += s.inputBytes()
            c["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            c["spark.spill_bytes"] += (s.memoryBytesSpilled()
                                       + s.diskBytesSpilled())
        jobs = self._store.jobsList(None)
        c["spark.jobs"] = sum(
            1 for i in range(jobs.length())
            if jobs.apply(i).jobId() > self._job_mark)
        c["spark.core_busy_frac"] = c["spark.task_s"] / (wall_s * self._cores)
        c["spark.driver_only_s"] = driver_only_s(
            self.stage_intervals(t1_ms), t0_ms, t1_ms)
        return c


def driver_only_s(intervals: list[tuple[int, int]], t0_ms: int,
                  t1_ms: int) -> float:
    """Time in [t0_ms, t1_ms] during which no stage was running."""
    busy = 0
    cur_start = cur_end = None
    for a, b in sorted((max(a, t0_ms), min(b, t1_ms)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                busy += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        busy += cur_end - cur_start
    return max(0, (t1_ms - t0_ms) - busy) / 1e3
