"""Reads Spark's in-process status stores for the traced run.

- Job ids per job group come from the public ``statusTracker()``.
- Per-job and per-stage figures (task counts, executor run and CPU time,
  input, shuffle and spill bytes, stage and task durations) come from the
  internal ``AppStatusStore``; the Python-worker figures come from the SQL
  metrics that the internal ``SQLAppStatusStore`` keeps for pandas-UDF
  plan nodes. Both stores work with the UI disabled.

The internal API is probed once. When it is missing or has changed, the
reader warns a single time and reports nothing, so the traced run falls
back to its span wall times.
"""

from __future__ import annotations

import re
import sys
from collections.abc import Callable, Iterable

_PYTHON_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20}
_VALUE = re.compile(r"^\s*(-?[\d.]+)\s*([A-Za-z]+)")

MB = 2**20


def parse_metric(text: str | None) -> float:
    """Total of a formatted SQL metric (``"total (min, med, max ...)\\n
    7.9 s (...)"`` or ``"7.9 s"``) in seconds or MiB."""
    if not text:
        return 0.0
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1)) * _UNITS[m.group(2)]


def _warn(msg: str) -> None:
    print(f"perfbench: warning: {msg}", file=sys.stderr)


class StatusReader:
    """Aggregates status-store figures over a set of job groups."""

    def __init__(self, spark, warn: Callable[[str], None] = _warn):
        self.sc = spark.sparkContext
        self.available = False
        try:
            jsc = self.sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._cc = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
            self._seq(self._sql.executionsList())
            self.available = True
        except Exception as e:  # any missing or renamed internal member
            warn(f"Spark status store unavailable ({type(e).__name__}: {e}); "
                 "reporting wall times only")

    def _seq(self, scala_seq) -> list:
        return list(self._cc.asJava(scala_seq))

    def _drain(self) -> None:
        # Status events are applied asynchronously; wait for the bus.
        self._bus.waitUntilEmpty()

    def execution_mark(self) -> int:
        """Highest SQL execution id so far (-1 when none)."""
        if not self.available:
            return -1
        self._drain()
        ids = [e.executionId() for e in self._seq(self._sql.executionsList())]
        return max(ids, default=-1)

    def job_counts(self, groups: Iterable[str]) -> dict[str, float]:
        """Jobs, stages, skipped stages, tasks and executor figures for
        every job started under ``groups``."""
        if not self.available:
            return {}
        self._drain()
        tracker = self.sc.statusTracker()
        jobs = skipped = stages = tasks = 0
        run_ms = cpu_ns = inp = sread = swrite = spill = 0
        longest_stage_ms = longest_task_ms = 0.0
        seen: set[int] = set()
        q = self.sc._gateway.new_array(self.sc._jvm.double, 1)
        q[0] = 1.0
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                jd = self._store.job(jid)
                jobs += 1
                skipped += jd.numSkippedStages()
                for sid in self._seq(jd.stageIds()):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = self._store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    stages += 1
                    tasks += sd.numTasks()
                    run_ms += sd.executorRunTime()
                    cpu_ns += sd.executorCpuTime()
                    inp += sd.inputBytes()
                    sread += sd.shuffleReadBytes()
                    swrite += sd.shuffleWriteBytes()
                    spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        longest_stage_ms = max(
                            longest_stage_ms, done.get().getTime() - sub.get().getTime())
                    summary = self._store.taskSummary(sid, sd.attemptId(), q)
                    if summary.isDefined():
                        longest_task_ms = max(
                            longest_task_ms, self._seq(summary.get().duration())[0])
        return {
            "spark.jobs": jobs, "spark.stages": stages,
            "spark.stages_skipped": skipped, "spark.tasks": tasks,
            "spark.executor_run_s": run_ms / 1e3,
            "spark.executor_cpu_s": cpu_ns / 1e9,
            "spark.longest_stage_s": longest_stage_ms / 1e3,
            "spark.longest_task_s": longest_task_ms / 1e3,
            "spark.input_mb": inp / MB, "spark.shuffle_read_mb": sread / MB,
            "spark.shuffle_write_mb": swrite / MB, "spark.spill_mb": spill / MB,
        }

    def python_metrics(self, after_execution: int) -> dict[str, float]:
        """Python-worker SQL metrics summed over executions newer than
        ``after_execution``."""
        if not self.available:
            return {}
        self._drain()
        out = dict.fromkeys(_PYTHON_METRICS.values(), 0.0)
        for ex in self._seq(self._sql.executionsList()):
            eid = ex.executionId()
            if eid <= after_execution:
                continue
            values = dict(self._cc.asJava(self._sql.executionMetrics(eid)))
            done: set[int] = set()
            for m in self._seq(ex.metrics()):
                key = _PYTHON_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key and acc not in done:
                    done.add(acc)
                    out[key] += parse_metric(values.get(acc))
        return out
