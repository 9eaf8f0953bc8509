"""Phase timing, spans, and the outside-in Spark stage sampler.

``Recorder.phase(name)`` times every phase of a pass. With tracing off it
only reads the clock. With tracing on it also

- keeps a span (name, start, end, parent) in memory;
- for the phases in ``SPARK_PHASES``, reads Spark's ``AppStatusStore`` over
  py4j before and after the span and keeps the jobs and stages that ran
  inside it.

The store is populated with ``spark.ui.enabled=false``. Its stage list is
sorted by descending stage id, so a phase's stages are the head of the list
above the id seen when the phase started.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from time import perf_counter as now

SPARK_PHASES = ("ingest", "graph", "pagerank", "wcc", "labelprop", "triangles", "linkpred")


class SparkSampler:
    """Reads jobs, stages and task-time quantiles from the status store."""

    def __init__(self, spark):
        jvm = spark._jvm  # noqa: SLF001
        gateway = spark.sparkContext._gateway  # noqa: SLF001
        self._store = spark._jsc.sc().statusStore()  # noqa: SLF001
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = gateway.new_array(jvm.double, 0)
        self._skew_quantiles = gateway.new_array(jvm.double, 2)
        self._skew_quantiles[0] = 0.5
        self._skew_quantiles[1] = 1.0
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self.cores = spark.sparkContext.defaultParallelism

    def _stages(self):
        # the 5-arg overload (statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); py4j cannot reach the defaults
        return self._store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )

    def _lists(self):
        stages = self._stages()
        jobs = self._store.jobsList(self._empty)
        top_stage = stages.apply(0).stageId() if stages.size() else -1
        top_job = jobs.apply(0).jobId() if jobs.size() else -1
        return stages, jobs, top_stage, top_job

    def mark(self) -> tuple[int, int]:
        return self._lists()[2:]

    @staticmethod
    def _head(seq, top: int, since: int):
        # retried stage attempts share an id, so take a few extra rows
        return seq.take(max(0, top - since) + 16)

    def collect(self, since: tuple[int, int], wall_s: float) -> dict:
        """Totals of the jobs and completed stages newer than ``since``."""
        stage_seq, job_seq, top_stage, top_job = self._lists()
        stages = [
            s for s in json.loads(self._json.writeValueAsString(
                self._head(stage_seq, top_stage, since[0])))
            if s["stageId"] > since[0] and s["status"] == "COMPLETE"
        ]
        jobs = [
            j for j in json.loads(self._json.writeValueAsString(
                self._head(job_seq, top_job, since[1])))
            if j["jobId"] > since[1]
        ]
        run_ms = sum(s["executorRunTime"] for s in stages)
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "executor_run_s": run_ms / 1000.0,
            "core_busy_frac": run_ms / 1000.0 / (wall_s * self.cores) if wall_s > 0 else 0.0,
            "task_skew": 0.0,
        }
        if stages:
            heavy = max(stages, key=lambda s: s["executorRunTime"])
            out["task_skew"] = self._task_skew(heavy["stageId"], heavy["attemptId"])
        return out

    def _task_skew(self, stage_id: int, attempt: int) -> float:
        """max / median task run time of one stage."""
        summary = self._store.taskSummary(stage_id, attempt, self._skew_quantiles)
        if not summary.isDefined():
            return 0.0
        run = json.loads(self._json.writeValueAsString(summary.get()))["executorRunTime"]
        return run[1] / max(run[0], 1.0)


def cached_bytes(spark) -> int:
    """Bytes held by persisted RDDs, memory plus disk."""
    infos = spark._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() + i.diskSize() for i in infos)


class Recorder:
    """Times the phases of one pass; traces them when ``sampler`` is set."""

    def __init__(self, sampler: SparkSampler | None = None):
        self.sampler = sampler
        self.times: dict[str, float] = {}
        self.spans: list[dict] = []
        self.spark: dict[str, dict] = {}
        self.notes: dict[str, float] = {}
        self.rounds: dict[str, list] = {}
        self.overhead_s = 0.0  # time spent reading the status store
        self._stack: list[int] = []

    @property
    def tracing(self) -> bool:
        return self.sampler is not None

    def note(self, name: str, value: float) -> None:
        self.notes[name] = value

    @contextmanager
    def phase(self, name: str):
        mark = None
        if self.tracing and name in SPARK_PHASES:
            t = now()
            mark = self.sampler.mark()
            self.overhead_s += now() - t
        t0 = now()
        span = None
        if self.tracing:
            span = len(self.spans)
            self.spans.append({
                "name": name, "start": t0, "end": None,
                "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            })
            self._stack.append(span)
        try:
            yield
        finally:
            t1 = now()
            self.times[name] = self.times.get(name, 0.0) + (t1 - t0)
            if span is not None:
                self._stack.pop()
                self.spans[span]["end"] = t1
            if mark is not None:
                self.spark[name] = self.sampler.collect(mark, t1 - t0)
                self.overhead_s += now() - t1

    def round_log(self, name: str):
        """A checkpointer identical to the kernels' default eager
        ``localCheckpoint`` that also logs each round's iteration."""
        log = self.rounds.setdefault(name, [])

        def checkpoint(df, iteration):
            log.append(iteration)
            return df.localCheckpoint(eager=True)

        return checkpoint
