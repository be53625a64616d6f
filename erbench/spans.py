"""Traced-run collector: a span per layer call, Spark stage metrics per span.

Each call into a layer runs under its own Spark job group. When the call
returns, the collector reads the group's jobs from the status tracker and
each of their stages from the status store
(``sc._jsc.sc().statusStore().lastStageAttempt(id)``), which Spark keeps
with the UI disabled. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class SpanCollector:
    def __init__(self, spark, root: str):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.root = {"name": root, "start": time.time(), "end": None, "children": []}

    @contextmanager
    def span(self, name: str):
        """Time one layer call under job group ``name`` and record its
        Spark jobs and stages as the span's children."""
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.root["children"].append(
                {"name": name, "start": start, "end": end, "children": self._jobs(name)}
            )

    def _jobs(self, group: str) -> list[dict]:
        tracker = self.sc.statusTracker()
        jobs, seen = [], set()
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(job_id)
            stages = []
            for stage_id in info.stageIds if info else []:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                stage = self._stage(stage_id)
                if stage is not None:
                    stages.append(stage)
            jobs.append({"name": f"job-{job_id}", "stages": stages})
        return jobs

    def _stage(self, stage_id: int) -> dict | None:
        try:
            sd = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # NoSuchElementException: the stage never ran
            return None
        if sd.status().toString() != "COMPLETE":
            return None
        quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage_id, sd.attemptId(), quantiles)
        median_ms = max_ms = 0.0
        if summary.isDefined():
            run = summary.get().executorRunTime()
            median_ms, max_ms = run.apply(0), run.apply(1)
        return {
            "stage_id": stage_id,
            "tasks": sd.numTasks(),
            "task_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "task_median_s": median_ms / 1e3,
            "task_max_s": max_ms / 1e3,
        }

    def dump(self, path: str) -> None:
        self.root["end"] = time.time()
        with open(path, "w") as f:
            json.dump(self.root, f)


def layer_fields(span: dict) -> dict[str, float]:
    """Per-layer metric fields of one span: wall, job count, task/CPU/off-CPU
    time, shuffle and spill bytes, and the task skew (max/median task time)
    of the span's costliest Spark stage."""
    stages = [s for job in span["children"] for s in job["stages"]]
    task_s = sum(s["task_s"] for s in stages)
    cpu_s = sum(s["cpu_s"] for s in stages)
    top = max(stages, key=lambda s: s["task_s"], default=None)
    skew = top["task_max_s"] / top["task_median_s"] if top and top["task_median_s"] else 1.0
    return {
        "wall_s": span["end"] - span["start"],
        "jobs": len(span["children"]),
        "task_s": task_s,
        "cpu_s": cpu_s,
        "offcpu_s": max(0.0, task_s - cpu_s),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "task_skew": skew,
    }
