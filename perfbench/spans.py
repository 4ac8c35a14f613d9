"""Spans around the benchmark's calls into the program's layers.

A span has a name, a layer, a start and end (``time.perf_counter``), the
span that caused it and the pass it belongs to.  Spans stay in memory
and are written as JSON lines when the run ends.  A span's self time is
its duration minus the time its child spans cover.

With ``engine=True`` every span runs its Spark jobs under a job group of
its own.  When the span ends, the task metrics of those jobs are summed
from the status store (which works with the UI off), so each span holds
the engine metrics of its own jobs only.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

ENGINE_METRICS = {
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "tasks": "count",
    "failed_tasks": "count",
    "task_skew": "ratio",
}


class Tracer:
    def __init__(self, engine: bool = False):
        self.sc = None  # the SparkContext, once the session is up
        self.engine = engine
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id: str = "setup"

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": parent["id"] if parent else None, "pass": self.pass_id,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        engine = self.engine and self.sc is not None
        if engine:
            self.sc.setJobGroup(f"span-{sp['id']}", name, False)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if engine:
                sp["engine"] = self._engine_metrics(f"span-{sp['id']}")
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent['id']}", parent["name"], False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_s(self, sp: dict) -> float:
        kids = [c for c in self.spans if c["parent"] == sp["id"] and c["end"]]
        return (sp["end"] - sp["start"]) - sum(c["end"] - c["start"] for c in kids)

    def _engine_metrics(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        m = dict.fromkeys(ENGINE_METRICS, 0.0)
        m["task_median_s"] = m["task_max_s"] = 0.0
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # never submitted (skipped) stage
                    continue
                if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                    continue
                m["executor_run_s"] += sd.executorRunTime() / 1e3
                m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                m["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                m["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
                m["gc_s"] += sd.jvmGcTime() / 1e3
                m["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                m["failed_tasks"] += sd.numFailedTasks()
                summary = store.taskSummary(stage, sd.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    m["task_median_s"] += run.apply(0) / 1e3
                    m["task_max_s"] += run.apply(1) / 1e3
        return _with_skew(m)

    def layer_metrics(self, passes: list[str]) -> dict[str, float]:
        """Engine metrics per layer: the sums over each pass's spans of
        that layer, as the median over those of ``passes`` it ran in."""
        per: dict[tuple[str, str], dict] = {}
        for sp in self.spans:
            if sp["layer"] and "engine" in sp and sp["pass"] in passes:
                acc = per.setdefault((sp["layer"], sp["pass"]), {})
                for k, v in sp["engine"].items():
                    acc[k] = acc.get(k, 0.0) + v
        out: dict[str, float] = {}
        for layer in sorted({lay for lay, _ in per}):
            rows = [_with_skew(v) for (lay, _), v in per.items() if lay == layer]
            for k in ENGINE_METRICS:
                out[f"{layer}.{k}"] = statistics.median(r[k] for r in rows)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def _with_skew(m: dict) -> dict:
    """A stage lasts as long as its slowest task, so skew is the sum of
    per-stage max task times over the sum of per-stage medians (1.0 when
    every stage is balanced)."""
    m["task_skew"] = m["task_max_s"] / m["task_median_s"] if m["task_median_s"] > 0 else 1.0
    return m
