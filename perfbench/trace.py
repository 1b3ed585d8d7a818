"""Spans and Spark counters for the benchmark's traced run.

Spans are opened only by the benchmark's own code, around calls into
the package. Each span's counters are the difference in the driver's
Spark status store between its start and its end, so a span includes
the work of any span nested inside it.
"""

from __future__ import annotations

import functools
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

# counters every span records
SPAN_COUNTERS = ("wall_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s", "driver_s")

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """``(percentile, value)`` for the highest percentile of
    ``TAIL_LADDER`` that has at least ``min_beyond`` samples strictly
    beyond its nearest-rank position, or ``None`` when even the median
    has fewer."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        # round first: 99.9 / 100 * n is not exact in binary
        rank = max(1, math.ceil(round(p * n / 100.0, 6)))
        if n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


@dataclass
class Mark:
    job: int  # newest job id at the mark (-1 before any job)
    stage: int  # newest stage id at the mark (-1 before any stage)
    t: float  # wall clock, epoch seconds


class SparkCounters:
    """Job and stage totals read from the driver's status store.

    The status store is fed asynchronously by the listener bus, so
    every read first waits for the bus to drain. The client is single
    threaded, so every job submitted between two marks belongs to the
    interval between them."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._jvm = sc._jvm

    def _newest_job(self):
        jobs = self._store.jobsList(None)
        return jobs.head() if jobs.size() else None

    def newest_job_id(self) -> int:
        """Id of the newest job (-1 before any job)."""
        self._bus.waitUntilEmpty()
        job = self._newest_job()
        return int(job.jobId()) if job is not None else -1

    def mark(self) -> Mark:
        self._bus.waitUntilEmpty()
        job = self._newest_job()
        if job is None:
            return Mark(-1, -1, time.time())
        return Mark(int(job.jobId()), max(_ints(job.stageIds()), default=-1), time.time())

    def since(self, mark: Mark) -> dict:
        """Counters for the jobs submitted after ``mark``: the six span
        counters plus ``shuffle_bytes`` (written) and ``input_records``.
        ``driver_s`` is the wall time that no job was running."""
        end = time.time()
        self._bus.waitUntilEmpty()
        newest = self._newest_job()
        last = int(newest.jobId()) if newest is not None else -1
        intervals = []
        stage_ids: set[int] = set()
        for jid in range(mark.job + 1, last + 1):
            job = self._store.job(jid)
            sub = job.submissionTime()
            done = job.completionTime()
            t0 = sub.get().getTime() / 1000.0 if sub.isDefined() else mark.t
            t1 = done.get().getTime() / 1000.0 if done.isDefined() else end
            intervals.append((max(t0, mark.t), min(t1, end)))
            # stages at or below the mark's newest id ran before the
            # span (they reappear here only as skipped parents)
            stage_ids.update(s for s in _ints(job.stageIds()) if s > mark.stage)
        out = {
            "wall_s": end - mark.t,
            "jobs": last - mark.job,
            "tasks": 0,
            "exec_run_s": 0.0,
            "exec_cpu_s": 0.0,
            "shuffle_bytes": 0,
            "input_records": 0,
        }
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                if st.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += int(st.numCompleteTasks()) + int(st.numFailedTasks())
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += int(st.shuffleWriteBytes())
                out["input_records"] += int(st.inputRecords())
        out["driver_s"] = max(0.0, out["wall_s"] - _covered(intervals))
        return out

    def cache_mb(self) -> float:
        """Memory held by cached RDD blocks, in MiB."""
        rdds = self._store.rddList(True)
        return sum(rdds.apply(i).memoryUsed() for i in range(rdds.size())) / 2**20

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())


def _ints(seq) -> list[int]:
    """A Scala ``Seq[Int]`` as a Python list."""
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """``(command name, fields after it)`` of a ``/proc`` stat file;
    None when the process or thread is gone."""
    try:
        with open(path) as f:
            line = f.read()
    except OSError:
        return None
    # the command name may hold spaces and ')'
    return line[line.index("(") + 1 : line.rindex(")")], line[line.rindex(")") + 2 :].split()


def _cpu_s(fields: list[str], children: bool) -> float:
    """User + system seconds of a stat line; with ``children``, also
    those of the reaped children."""
    return sum(int(x) for x in fields[11 : 15 if children else 13]) * _TICK_S


# HotSpot's JIT compiler threads ("C1 CompilerThread0", ...)
JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(pid: int) -> float:
    """CPU seconds spent by the JIT compiler threads of JVM ``pid``."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and st[0].startswith(JIT_THREAD_PREFIXES):
            total += _cpu_s(st[1], children=False)
    return total


class CpuClock:
    """CPU seconds used so far by a process and everything under it,
    less the JIT compiler threads of the JVMs among them.

    Rooted at the benchmark's own process, the tree holds the Spark
    driver JVM and the Python workers it forks. A process counts its
    reaped children, so a worker that has exited is still counted.
    Time the host steals from the machine's CPUs is not CPU time, so
    this clock, unlike the wall clock, does not move when other tenants
    of a shared host take the CPUs. The JIT compiles Spark's generated
    code on background threads, in amounts that depend on timing; that
    time is read apart (``jit``) so it can be reported on its own. The
    JVM must keep its compiler threads for its whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``): an exited compiler
    thread's time could no longer be told apart."""

    def __init__(self, root: int | None = None, jvm: int | None = None):
        self.root = root if root is not None else os.getpid()
        self.jvm = jvm

    def __call__(self) -> float:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(f"/proc/{name}/stat")
                if st is not None:
                    stats[int(name)] = (int(st[1][1]), _cpu_s(st[1], children=True))
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0.0, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                total += stats[pid][1]
            todo.extend(children.get(pid, ()))
        return total - self.jit()

    def jit(self) -> float:
        return jit_cpu_s(self.jvm) if self.jvm is not None else 0.0


def host_steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs since
    boot (the ``steal`` column of ``/proc/stat``), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) * _TICK_S if len(fields) > 8 else 0.0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of process ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """Records spans in memory; ``spans`` is written out at the end.

    Each record carries the span's name, its enclosing span names
    (``path``), its start time and its counters; a wrapper may add
    fields to the record after the span closes."""

    enabled = True

    def __init__(self, counters: SparkCounters):
        self._counters = counters
        self._stack: list[str] = []
        self._paused = False
        self.spans: list[dict] = []

    @contextmanager
    def paused(self):
        """Open no spans inside this block (untimed checks)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextmanager
    def span(self, name: str):
        if self._paused:
            yield {}
            return
        rec = {"name": name, "path": list(self._stack)}
        mark = self._counters.mark()
        rec["start"] = mark.t
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec.update(self._counters.since(mark))
            self.spans.append(rec)


class NullTracer:
    """Tracing off: no spans, no status-store reads."""

    enabled = False
    spans: tuple = ()

    @contextmanager
    def span(self, name: str):
        yield {}

    @contextmanager
    def paused(self):
        yield


def traced(tracer, name: str, fn, before=None, after=None):
    """``fn`` run inside span ``name``; its return value passes through
    unchanged. ``before(*args, **kwargs)`` runs ahead of the span and
    ``after(pre, result, *args, **kwargs)`` after it, outside the timed
    interval; the dict ``after`` returns is added to the span record.
    With tracing off ``fn`` itself is returned."""
    if not tracer.enabled:
        return fn

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        pre = before(*args, **kwargs) if before else None
        with tracer.span(name) as rec:
            result = fn(*args, **kwargs)
        if after:
            rec.update(after(pre, result, *args, **kwargs))
        return result

    return wrapper


def instrument(obj, tracer, spec: dict) -> None:
    """Replace methods of the instance ``obj`` by traced wrappers.
    ``spec`` maps a method name to ``(span, before, after)``."""
    for method, (name, before, after) in spec.items():
        setattr(obj, method, traced(tracer, name, getattr(obj, method), before, after))


def totals(spans: list[dict]) -> dict[str, dict]:
    """Per-span-name sums of every numeric field, plus ``calls``."""
    out: dict[str, dict] = {}
    for rec in spans:
        acc = out.setdefault(rec["name"], {"calls": 0})
        acc["calls"] += 1
        for key, value in rec.items():
            if key != "start" and isinstance(value, (int, float)) and not isinstance(value, bool):
                acc[key] = acc.get(key, 0) + value
    return out
