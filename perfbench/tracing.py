"""Spans around calls into each layer, measured from outside the program.

A span records wall time, process-tree CPU (split JVM / Python worker) and
the Spark stages that ran inside it: jobs, tasks, shuffle write, spill and
JVM GC time, read from the driver's status store after the span ends.

The status store is an internal Spark API (it works with the web UI
disabled). When it cannot be reached, the stage-derived fields are left out
rather than guessed.
"""

from __future__ import annotations

import json
import time

from procstat import tree_cpu

_MB = 1024 * 1024


class StageReader:
    """New stages since the previous read, summed, from the status store."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway
        self._store = None
        self._last_id = -1
        try:
            self._store = spark.sparkContext._jsc.sc().statusStore()
            self._last_id = self._max_id()
        except Exception:  # noqa: BLE001 -- internal API gone: no stage fields
            self._store = None

    def _stages(self):
        """Stage records, newest first (the store lists stages by id,
        descending)."""
        seq = self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._gw.jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _max_id(self) -> int:
        stages = self._stages()
        return max((s.stageId() for s in stages), default=-1)

    def read_new(self) -> dict[str, float] | None:
        """Totals over stages created since the last call (completed or
        skipped ones included), or None without the status store."""
        if self._store is None:
            return None
        out = {"stages": 0, "tasks": 0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "gc_s": 0.0, "executor_cpu_s": 0.0}
        newest = self._last_id
        for s in self._stages():
            sid = s.stageId()
            if sid <= self._last_id:
                break
            newest = max(newest, sid)
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        self._last_id = newest
        return out


class Tracer:
    """Keeps spans in memory; ``dump`` writes them out at the end."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stages = StageReader(spark)
        self._seq = 0

    def span(self, name: str, fn, call_id: int, parent: str | None = None):
        """Run ``fn()`` as one span; returns (fn's result, span record).

        Jobs are counted through the public status tracker, by job group."""
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}"
        sc.setJobGroup(group, name)
        self.stages.read_new()  # drop stages from before the span
        cpu0 = tree_cpu()
        t0 = time.perf_counter()
        wall0 = time.time()
        try:
            result = fn()
        finally:
            t1 = time.perf_counter()
            cpu1 = tree_cpu()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec = {
            "name": name, "parent": parent, "call_id": call_id,
            "start": wall0, "end": wall0 + (t1 - t0),
            "wall_s": t1 - t0,
            "cpu_s": cpu1["total"] - cpu0["total"],
            "jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
            "pyworker_cpu_s": cpu1["pyworker"] - cpu0["pyworker"],
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        }
        st = self.stages.read_new()
        if st is not None:
            rec.update(st)
        self.spans.append(rec)
        return result, rec

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
