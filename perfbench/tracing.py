"""Spans around the engine's public calls, and Spark status-store counters.

Spans are recorded from the benchmark's own files: the engine's public
functions are replaced, at every module that bound them by name, with
wrappers that open a span around the original call. Spans stay in
memory; ``Tracer.spans`` is written out when the run ends.

Spark is lazy, so a lazy frame's cost lands in the span of the action
that forces it (``Ledger.filter_unprocessed`` returns in microseconds and
its anti-join runs inside ``run_batch``'s collect). Costs are reported
where they land, never reassigned.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager


class MeasurementError(RuntimeError):
    """A counter that must be non-zero read zero: the measurement is
    broken, so the run aborts instead of reporting zeros."""


class Tracer:
    """In-memory span recorder for one single-threaded benchmark run.

    A span is ``{id, name, parent, request, start, end, **attrs}``; the
    parent is the innermost span open when it started, ``request`` the
    query name or batch id the benchmark set.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.request: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, attrs=None):
        """``fn`` inside a span; ``attrs(*args, **kwargs)`` adds fields."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, **(attrs(*args, **kwargs) if attrs else {})):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover.
        Spans come from one thread, so children never overlap."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}


def patch_function(module, attr: str, wrapper) -> int:
    """Replace ``module.attr`` by ``wrapper(original)`` in the defining
    module and in every loaded module that imported it by name; returns
    the number of modules patched. Function-local ``from m import f``
    statements read the defining module, so they see the wrapper too."""
    orig = getattr(module, attr)
    wrapped = wrapper(orig)
    n = 0
    for mod in list(sys.modules.values()):
        if getattr(mod, "__dict__", {}).get(attr) is orig:
            setattr(mod, attr, wrapped)
            n += 1
    return n


def patch_method(cls, attr: str, wrapper) -> None:
    setattr(cls, attr, wrapper(getattr(cls, attr)))


STAGE_COUNTERS = (
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


class SparkCounters:
    """Per-request counters from the Spark JVM's ``AppStatusStore``,
    keyed by job group. Read each group right after its request: the
    store keeps only ``spark.ui.retainedJobs``/``retainedStages``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name, False)

    def read(self, name: str) -> dict:
        """``jobs``, ``first_submit_ms`` (epoch ms of the first job, or
        None) and the ``STAGE_COUNTERS`` summed over the group's
        executed (non-skipped) stages."""
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        out["jobs"] = 0
        out["first_submit_ms"] = None
        stage_ids: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(name):
            job = self.store.job(jid)
            out["jobs"] += 1
            sub = job.submissionTime()
            if sub.isDefined():
                t = sub.get().getTime()
                if out["first_submit_ms"] is None or t < out["first_submit_ms"]:
                    out["first_submit_ms"] = t
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["gc_s"] += st.jvmGcTime() / 1e3
        return out

    def require_work(self, name: str, counters: dict) -> None:
        """Abort when a request that must run Spark work shows none."""
        if counters["jobs"] == 0 or counters["tasks"] == 0:
            raise MeasurementError(
                f"request {name!r} ran Spark work but the status store shows "
                f"{counters['jobs']} jobs and {counters['tasks']} tasks"
            )


def file_sizes(root: str) -> dict[str, int]:
    """Every regular file under ``root`` with its size."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # vacuumed while walking
                pass
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of a process and every descendant,
    counting the children they reaped, from ``/proc``. For this process
    that is the client, the Spark JVM and its Python workers. Unlike wall
    time, it is not charged for time the host gives to other guests
    (steal)."""
    root = os.getpid() if root is None else root
    ticks: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:  # exited while listing
            continue
        fields = data[data.rindex(")") + 2:].split()  # from field 3, state
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of all CPUs so far, from
    ``/proc/stat``; steal is time the host gave to other guests."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7], sum(cpu[:8])


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise MeasurementError(f"/proc/{pid}/status has no VmHWM line")
