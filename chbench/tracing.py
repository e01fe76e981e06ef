"""Benchmark-side instruments for the traced run.

Nothing here changes program code: the py4j counter wraps the gateway
client's ``send_command`` on the instance, job groups are set through the
public ``SparkContext.setJobGroup``, and stage metrics come from the
SparkContext's ``AppStatusStore``, which Spark keeps even with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import threading
import time


class Py4jCounter:
    """Counts and times every command the Python side sends to the JVM,
    from any thread (py4j's finalizer thread sends the detach commands)."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._send = self._client.send_command
        self._lock = threading.Lock()
        self.calls = 0
        self.seconds = 0.0

    def _counted(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return self._send(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            with self._lock:
                self.calls += 1
                self.seconds += dt

    def __enter__(self):
        self._client.send_command = self._counted
        return self

    def __exit__(self, *exc):
        del self._client.send_command

    def snapshot(self) -> tuple[int, float]:
        with self._lock:
            return self.calls, self.seconds


class Spans:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self):
        self.rows: list[dict] = []

    def add(self, stmt_id: str, name: str, start: float, end: float,
            parent: str | None = None, **counts) -> None:
        self.rows.append({"stmt": stmt_id, "name": name, "start": start,
                          "end": end, "parent": parent, **counts})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for row in self.rows:
                fh.write(json.dumps(row) + "\n")


def wait_for_listeners(spark) -> None:
    """Let the status store catch up with the jobs that already ran."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle, spill and GC of one job group, read
    from the AppStatusStore. Call :func:`wait_for_listeners` first."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gateway = sc._gateway
    quantiles = gateway.new_array(gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_max_over_median": 1.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "gc_ms": 0}
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue                  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["gc_ms"] += sd.jvmGcTime()
        if sd.numCompleteTasks() < 2:
            continue
        summary = store.taskSummary(sid, sd.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            median, top = run.apply(0), run.apply(1)
            if median > 0:
                out["task_max_over_median"] = max(
                    out["task_max_over_median"], top / median)
    return out
