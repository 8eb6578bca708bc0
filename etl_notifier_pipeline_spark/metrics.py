"""What a block of driver code cost Spark, read from the JVM.

:func:`measured` runs a block under its own job group and reads the
group's jobs and stages from the ``AppStatusStore`` (the data behind
the UI's REST API, which the store keeps with the UI disabled too),
plus the JVM-wide GC and codegen counters diffed around the block::

    with measured(spark, "q01") as m:
        df.write.format("noop").mode("overwrite").save()
    m["sec"], m["jobs"], m["shuffleWriteBytes"], m["codegenCompiles"]

:func:`peak_heap` reads the executors' JVM heap high-water mark.

Every read raises when it fails or finds nothing where the block must
have left something: a counter that quietly reads 0 would pass for a
cheap run. ``perfbench/tracing.py`` keeps its own reader.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Summed over the group's stages. Spark's inputBytes is left out:
# parquet's vectored reads run off the task thread, where its counter
# cannot see them (a full scan of sf0.1 lineitem, 10.8 MB, counted
# 11,894 bytes), and with them turned off the perfbench headline
# queries read about 11% more CPU.
METRIC_FIELDS = (
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "executorRunTime",
)

# The thread-local properties ``SparkContext.setJobGroup`` sets.
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class MeasurementError(RuntimeError):
    """The status store lacks what the measured block must have left."""


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _executors(store) -> list:
    return _seq(store.executorList(False))


def _gc_ms(store) -> int:
    """JVM GC time summed over executors, cumulative since each started."""
    return sum(int(e.totalGCTime()) for e in _executors(store))


def _stages(store, job_ids) -> list:
    """The last attempt of every stage of the jobs that the store holds.
    A store past ``spark.ui.retainedStages`` evicts skipped stages first
    (they sort as never completed), even ones the running block just
    skipped; they would count 0. Raises when more stages are missing
    than the jobs skipped."""
    jobs = [store.job(j) for j in job_ids]
    ids = sorted({sid for j in jobs for sid in _seq(j.stageIds())})
    stages = []
    for sid in ids:
        try:
            stages.append(store.lastStageAttempt(sid))
        except Py4JJavaError as e:
            if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                raise
    missing = len(ids) - len(stages)
    if missing > sum(j.numSkippedStages() for j in jobs):
        raise MeasurementError(
            f"the status store has lost {missing} stages of jobs {job_ids}, more than they skipped"
        )
    return stages


def peak_heap(spark) -> int:
    """The highest JVM heap any executor has reported since it started:
    a high-water mark, not a figure of one block. Executors sample it
    with their heartbeats, the first 10-20 s after they start, and
    report 0 or nothing until then, so this raises before it."""
    peaks = [
        int(e.peakMemoryMetrics().get().getMetricValue("JVMHeapMemory"))
        for e in _executors(spark.sparkContext._jsc.sc().statusStore())
        if e.peakMemoryMetrics().isDefined()
    ]
    if not any(peaks):
        raise MeasurementError("no executor has reported its peak JVM heap yet")
    return max(peaks)


def _codegen_compiles(jvm) -> int:
    """Generated classes Janino has compiled in this JVM, across every
    session in it."""
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(codegen.METRIC_COMPILATION_TIME().getCount())


@contextmanager
def measured(spark, group: str):
    """Run the block under job group ``group`` and fill the yielded dict
    once it exits: ``sec`` (wall), ``jobs``, the ``METRIC_FIELDS`` summed
    over the jobs' stages, ``jvmGcTimeMs`` and ``codegenCompiles``. Only
    jobs the block launched count, so a group name can be measured
    again. The caller's job group is restored on exit, so blocks nest:
    an inner block's jobs count in the inner group only. A block that
    raises leaves the dict empty. The store keeps the last
    ``spark.ui.retainedJobs`` jobs and ``retainedStages`` stages (1000
    each by default), so a block must launch fewer to be counted whole."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out: dict = {}
    earlier = set(tracker.getJobIdsForGroup(group))
    gc0 = _gc_ms(store)
    compiles0 = _codegen_compiles(sc._jvm)
    caller = {p: sc.getLocalProperty(p) for p in _GROUP_PROPS}
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        yield out
    finally:
        wall = time.perf_counter() - t0
        for p, v in caller.items():
            sc.setLocalProperty(p, v)
    compiles = _codegen_compiles(sc._jvm) - compiles0
    # job and stage events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [j for j in tracker.getJobIdsForGroup(group) if j not in earlier]
    stages = _stages(store, jobs)
    if jobs and not stages:
        raise MeasurementError(
            f"group {group!r} ran {len(jobs)} jobs but the status store lists none of their stages"
        )
    out["sec"] = wall
    out["jobs"] = len(jobs)
    for f in METRIC_FIELDS:
        out[f] = sum(int(getattr(s, f)()) for s in stages)
    out["jvmGcTimeMs"] = _gc_ms(store) - gc0
    out["codegenCompiles"] = compiles
