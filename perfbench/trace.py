"""Spans around the benchmark's calls into each layer, and the Spark
status counters read around them.

With tracing off a :class:`Recorder` only times its spans. With tracing
on it records every span (name, start, end, parent) and, for a span that
runs Spark work, tags that work with the span's own job group and reads
the group's jobs, stages, tasks and stage metrics from Spark's status
tracker and status store once the span ends. Spans are kept in memory
and written out at the end of the run. Time spent in the tracing hooks
is counted, so a traced run states its own overhead.
"""

from __future__ import annotations

import gc
import itertools
import json
import time
from contextlib import contextmanager

#: per-span field -> StageData getter summed over the span's stages
STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
WORK_FIELDS = ("jobs", "stages", "tasks", *STAGE_FIELDS)
_IDLE_GROUP = "perfbench-untagged"


def settle_heaps(spark) -> float:
    """Collect both heaps until the JVM heap stops shrinking; return the
    heap in use, in MB. A collection lets Spark's cleaner drop what it then
    finds unreachable, which frees more at the next one, so one collection
    leaves a figure that depends on timing."""
    jvm = spark.sparkContext._jvm
    bus = spark.sparkContext._jsc.sc().listenerBus()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = float("inf")
    for _ in range(8):
        bus.waitUntilEmpty()
        gc.collect()
        jvm.System.gc()
        used = mx.getHeapMemoryUsage().getUsed() / 2**20
        if used > heap - 0.5:
            return min(heap, used)
        heap = used
        time.sleep(0.3)  # the cleaner's turn
    return heap


class Recorder:
    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        if trace:
            jsc = spark.sparkContext._jsc
            self._tracker = spark.sparkContext.statusTracker()
            self._store = jsc.sc().statusStore()
            self._bus = jsc.sc().listenerBus()
            self._jsc = jsc
            spark.sparkContext.setJobGroup(_IDLE_GROUP, _IDLE_GROUP)

    @contextmanager
    def span(self, name: str, spark_work: bool = False, **attrs):
        """Time the body. When tracing, keep the span; with ``spark_work``
        also attribute the Spark jobs the body launches to it."""
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs}
        tagged = self.trace and spark_work
        if tagged:
            h0 = time.perf_counter()
            self.spark.sparkContext.setJobGroup(f"perfbench-{sid}", name)
            self.overhead_s += time.perf_counter() - h0
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if tagged:
                h0 = time.perf_counter()
                self.spark.sparkContext.setJobGroup(_IDLE_GROUP, _IDLE_GROUP)
                rec.update(self._group_work(f"perfbench-{sid}"))
                self.overhead_s += time.perf_counter() - h0
            if self.trace:
                self.spans.append(rec)

    def _group_work(self, group: str) -> dict:
        """Jobs, completed stages, tasks and stage metrics of one group."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(WORK_FIELDS, 0)
        seen: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self._tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    st = self._store.lastStageAttempt(stage_id)
                except Exception:  # never submitted (skipped)
                    continue
                if str(st.status().toString()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                for field, getter in STAGE_FIELDS.items():
                    out[field] += getattr(st, getter)()
        return out

    def persistent_rdds(self) -> int:
        """Persistent RDDs still reachable right now. Spark keeps them in a
        weak-valued map, so both heaps are settled first: the count is then
        the same on every run."""
        h0 = time.perf_counter()
        settle_heaps(self.spark)
        n = self._jsc.getPersistentRDDs().size()
        self.overhead_s += time.perf_counter() - h0
        return n

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"overhead_s": self.overhead_s, **extra,
                       "spans": self.spans}, f)
