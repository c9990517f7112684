"""Spans and engine counts, measured from outside the program.

A span has a name, start, end and parent and is kept in memory until
the run ends. With counting on, a span opened with ``counted=True``
runs under its own Spark job group; when it closes, its job ids come
back from ``statusTracker()`` and each job's stages from the
application status store, giving job, stage and task counts, shuffle
and spill bytes, and executor run and CPU time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s",
)


class Tracer:
    def __init__(self, spark, counting: bool):
        self.spark = spark
        self.counting = counting
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, counted: bool = False):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = f"perfbench-{rec['id']}"
        sc = self.spark.sparkContext
        if counted and self.counting:
            sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if counted and self.counting:
                sc._jsc.clearJobGroup()
                rec.update(self.group_counts(group))

    def group_counts(self, group: str) -> dict:
        """Counters of every job run under ``group`` (zeros if none)."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store is fed async
        tracker = sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        store = jsc.statusStore()
        jvm = self.spark._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else ()):
                attempts = store.stageData(
                    stage, False, jvm.java.util.ArrayList(), False, no_quantiles
                )
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    if d.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += d.numCompleteTasks()
                    out["shuffle_read_bytes"] += d.shuffleReadBytes()
                    out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    out["spill_bytes"] += d.diskBytesSpilled()
                    out["executor_run_s"] += d.executorRunTime() / 1e3
                    out["executor_cpu_s"] += d.executorCpuTime() / 1e9
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=None, separators=(",", ":"))


def sum_counts(spans: list[dict]) -> dict:
    out = dict.fromkeys(COUNTERS, 0)
    for s in spans:
        for k in COUNTERS:
            out[k] += s.get(k, 0)
    return out
