"""Measurement helpers the benchmark uses from outside the engine.

- ``JobClock``: Spark's job-id watermark (the id the next job will get).
  With one client thread, every job submitted between two readings
  belongs to the code that ran between them, including jobs a streaming
  query submits from its own thread, which a job group would miss.
- ``ModuleSpans``: wraps the public functions and public class methods of
  each engine layer (``session``, ``core``, ``operators``, ``functions``,
  ``sources``, ``streaming``) and records, per layer, the calls made into
  it from another layer, their inclusive time, their self time (minus the
  time spent in other traced layers) and the jobs issued while the layer
  was the innermost one.  Only the client thread is traced.
- ``stage_totals``: executor-side totals of a job-id range, read from
  Spark's status store.
- ``plan_phases``: Catalyst analysis / optimization / planning time from
  a DataFrame's query-planning tracker.
- ``steal_share``: share of the runnable CPU time the hypervisor took
  between two ``/proc/stat`` readings (``cpu_ticks``).
- ``children_cpu_s``: CPU seconds used so far by this process's
  descendants (the JVM and its Python workers), from ``/proc``.
- ``TreeRss``: peak resident memory of this process and all descendants
  between ``start`` and ``pause``, sampled from ``/proc``, and the peak of
  a second gauge (the JVM's used heap) sampled with it.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
import types

PACKAGE = "polars_dataset_spark"
LAYERS = ("session", "core", "operators", "functions", "sources", "streaming")
_MB = 1024.0 * 1024.0


class JobClock:
    """Callable returning the id Spark will give the next submitted job."""

    def __init__(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def __call__(self) -> int:
        return int(self._dag.nextJobId())


def _layer_of(module_name: str) -> "str | None":
    parts = module_name.split(".")
    if parts[0] == PACKAGE and len(parts) > 1 and parts[1] in LAYERS:
        return parts[1]
    return None


class ModuleSpans:
    """Per-layer spans recorded by wrapping the engine's public functions.

    ``install()`` rebinds every reference the package's modules hold to a
    wrapped function (so ``suite``'s ``from ... import regrid`` is traced
    too); ``uninstall()`` restores the originals.  Wrappers keep the
    original ``__module__``/``__qualname__``, so UDF closures that refer to
    them still pickle by reference and the Python workers run the
    untraced originals."""

    def __init__(self, jobs: JobClock) -> None:
        self.jobs = jobs
        self.totals = {
            layer: {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0} for layer in LAYERS
        }
        self._stack: "list[list]" = []  # [layer, t0, job0, child_s, child_jobs]
        self._thread = threading.get_ident()
        self._patches: "list[tuple[object, str, object]]" = []

    def reset(self) -> None:
        for tot in self.totals.values():
            tot.update(calls=0, s=0.0, self_s=0.0, jobs=0)

    def _wrap(self, layer: str, fn):
        spans = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = spans._stack
            if threading.get_ident() != spans._thread or (stack and stack[-1][0] == layer):
                return fn(*args, **kwargs)
            frame = [layer, time.perf_counter(), spans.jobs(), 0.0, 0]
            stack.append(frame)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                dur = time.perf_counter() - frame[1]
                njobs = spans.jobs() - frame[2]
                tot = spans.totals[layer]
                tot["calls"] += 1
                tot["s"] += dur
                tot["self_s"] += dur - frame[3]
                tot["jobs"] += njobs - frame[4]
                if stack:
                    stack[-1][3] += dur
                    stack[-1][4] += njobs

        return traced

    def _set(self, owner, name: str, value) -> None:
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def install(self) -> None:
        modules = [
            (name, mod)
            for name, mod in list(sys.modules.items())
            if mod is not None and (name == PACKAGE or name.startswith(PACKAGE + "."))
        ]
        wrapped: "dict[types.FunctionType, object]" = {}
        for name, mod in modules:
            layer = _layer_of(name)
            if layer is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != name:
                    continue
                if isinstance(obj, types.FunctionType):
                    wrapped[obj] = self._wrap(layer, obj)
                elif isinstance(obj, type):
                    for meth, fn in list(vars(obj).items()):
                        if not meth.startswith("_") and isinstance(fn, types.FunctionType):
                            self._set(obj, meth, self._wrap(layer, fn))
        for _, mod in modules:
            for attr, obj in list(vars(mod).items()):
                if isinstance(obj, types.FunctionType) and obj in wrapped:
                    self._set(mod, attr, wrapped[obj])

    def uninstall(self) -> None:
        while self._patches:
            owner, name, original = self._patches.pop()
            setattr(owner, name, original)


def stage_totals(spark, first_job: int, end_job: int) -> "dict[str, float]":
    """Executor totals over the stages of jobs ``first_job <= id < end_job``
    (each stage counted once, skipped stages contribute nothing)."""
    sc = spark.sparkContext
    # the status store is fed asynchronously: wait for the finished jobs
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    stage_ids: "set[int]" = set()
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if first_job <= job.jobId() < end_job:
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
    out = {
        "tasks": 0,
        "failed_tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "input_mb": 0.0,
        "spill_mb": 0.0,
    }
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() not in stage_ids:
            continue
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
        out["input_mb"] += st.inputBytes() / _MB
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
    return out


PHASES = ("analysis", "optimization", "planning")


def plan_phases(df) -> "dict[str, float]":
    """Seconds per Catalyst phase of ``df``'s own query execution.

    Analysis ran eagerly when ``df`` was built, so it is part of the build
    time.  Optimization and planning are forced here (no job runs): the
    write that follows builds its own query execution and plans the query
    again, so this is a second planning of the same query, and callers
    keep it out of every timer but its own."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        p: (phases.apply(p).durationMs() / 1e3 if phases.contains(p) else 0.0)
        for p in PHASES
    }


def cpu_ticks() -> "tuple[int, int]":
    """(busy, steal) ticks summed over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


def steal_share(before: "tuple[int, int]", after: "tuple[int, int]") -> float:
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def _tree_pids(root: int) -> "list[int]":
    """``root`` and all its descendants, from ``/proc``."""
    children: "dict[int, list[int]]" = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def children_cpu_s() -> float:
    """User + system CPU seconds of this process's live descendants."""
    ticks = 0
    me = os.getpid()
    for pid in _tree_pids(me):
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks += int(fields[11]) + int(fields[12])
    return ticks / _CLK_TCK


class TreeRss:
    """Background sampler of the resident memory of this process tree and
    of a second gauge ``gauge_mb`` (called on the sampler thread)."""

    def __init__(self, gauge_mb=None, period_s: float = 0.25) -> None:
        self.peak_mb = 0.0
        self.gauge_peak_mb = 0.0
        self._gauge_mb = gauge_mb
        self._lock = threading.Lock()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period_s,), daemon=True)
        self._thread.start()

    def _tree_mb(self) -> float:
        total = 0
        for pid in _tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total / _MB

    def _sample(self) -> "tuple[float, float]":
        return self._tree_mb(), (self._gauge_mb() if self._gauge_mb else 0.0)

    def _loop(self, period_s: float) -> None:
        while not self._stop.is_set():
            if self._active.wait(period_s) and not self._stop.is_set():
                mb, gauge = self._sample()
                with self._lock:
                    if self._active.is_set():
                        self.peak_mb = max(self.peak_mb, mb)
                        self.gauge_peak_mb = max(self.gauge_peak_mb, gauge)
                self._stop.wait(period_s)

    def start(self) -> None:
        with self._lock:
            self.peak_mb, self.gauge_peak_mb = self._sample()
            self._active.set()

    def pause(self) -> "tuple[float, float]":
        """Stop sampling; returns the peaks (RSS, gauge) since ``start``."""
        with self._lock:
            self._active.clear()
            mb, gauge = self._sample()
            self.peak_mb = max(self.peak_mb, mb)
            self.gauge_peak_mb = max(self.gauge_peak_mb, gauge)
            return self.peak_mb, self.gauge_peak_mb

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join()
