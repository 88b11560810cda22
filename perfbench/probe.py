"""Measurement helpers: spans, Spark status-store counts and host noise.

Everything here runs in the benchmark process, around calls into the
engine's public functions; nothing reaches inside engine code.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time

# Per-stage counters read from Spark's status store, in the units the
# store keeps them (times in ms, sizes in bytes).
_STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    """In-memory spans: name, start, end, parent span and op id. Disabled,
    ``span`` returns a shared no-op context, so untraced runs pay only
    the ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0  # seconds spent in tracing code itself
        self._stack: list[int] = []

    def span(self, name: str, op_id: str | None = None):
        return self._span(name, op_id) if self.enabled else _NULL_SPAN

    @contextlib.contextmanager
    def _span(self, name: str, op_id: str | None):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": idx, "name": name, "parent": parent, "op": op_id,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_NULL_SPAN = contextlib.nullcontext()


def job_group_counts(spark, group: str) -> dict[str, float]:
    """Jobs, stages and summed stage counters of one job group.

    Waits for the listener bus first: the status store is fed
    asynchronously, so a job that just returned may not be in it yet."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, **{f: 0 for f in _STAGE_FIELDS}}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        out["jobs"] += 1
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never attempted (skipped)
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            for f in _STAGE_FIELDS:
                out[f] += getattr(st, f)()
    return out


def storage_after_op(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    used = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return n, used


def cpu_times() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice, so sum the first eight
    return fields[7], sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def calibrate(spark, runs: int = 2) -> list[float]:
    """Seconds for a fixed-cost job of the same shape as ``bench.py``'s
    floor sentinel: a 1M-row range through one 16-key shuffle, collected
    via Arrow. Its work term is negligible, so it measures job overhead
    plus whatever the host is doing at the time."""
    import pyspark.sql.functions as F

    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        (
            spark.range(1_000_000)
            .groupBy((F.col("id") % 16).alias("g"))
            .agg(F.sum("id").alias("s"))
            .toPandas()
        )
        samples.append(time.perf_counter() - t0)
    return samples


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
