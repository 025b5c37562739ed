"""Whole-job Spark counters, read from outside the program.

The JVM's application status store (what the Spark UI shows) keeps one
record per stage.  The benchmark remembers the highest stage id it has
seen and, after each run, sums the records of the newer stages: that is
the run's delta.  The store is fed asynchronously by the listener bus,
so the bus is drained first.  JVM GC time is read from the JVM's
garbage-collector beans; in local mode they cover the executor threads
too, and unlike per-task GC time they do not count a pause once per
concurrently running task.
"""

from __future__ import annotations

STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def stage_delta(stages: list[dict], after_id: int) -> dict[str, float]:
    """Sum the counters of the COMPLETE stages newer than ``after_id``.

    ``stages`` holds one dict per stage attempt with ``stageId``,
    ``status`` and the ``STAGE_FIELDS``.  Skipped stages (reused shuffle
    output) ran no tasks and are not counted as stages."""
    new = [s for s in stages if s["stageId"] > after_id and s["status"] == "COMPLETE"]
    return {
        "stages": len(new),
        "tasks": sum(s["numCompleteTasks"] for s in new),
        "executor_run_ms": sum(s["executorRunTime"] for s in new),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in new),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in new),
    }


class StatusStore:
    """Reads per-run counter deltas from a live SparkContext."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._last_id = -1
        self._gc_ms = 0
        self.snapshot()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _new_stages(self) -> list[dict]:
        """Stage records newer than the last snapshot.  The store lists
        stages newest first, so the scan stops at the first old id."""
        jvm = self._sc._jvm
        seq = self._jsc.statusStore().stageList(
            None, False, False, self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = []
        it = seq.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_id:
                break
            rec = {"stageId": sid, "status": s.status().toString()}
            for f in STAGE_FIELDS:
                rec[f] = getattr(s, f)()
            out.append(rec)
        return out

    def _gc_total_ms(self) -> int:
        beans = self._sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size()))

    def snapshot(self) -> dict[str, float]:
        """Counters accumulated since the previous snapshot."""
        self._drain()
        stages = self._new_stages()
        delta = stage_delta(stages, self._last_id)
        if stages:
            self._last_id = max(s["stageId"] for s in stages)
        gc = self._gc_total_ms()
        delta["gc_s"] = (gc - self._gc_ms) / 1000.0
        self._gc_ms = gc
        return delta
