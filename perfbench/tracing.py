"""Spans, Spark counters and process memory, all read from outside the
program.

A span records name, start, end, parent span and run id. In a traced run
each span also records the difference of Spark's own counters between its
start and its end: job and stage counts from ``SparkContext.statusTracker()``,
and task, shuffle, input and GC totals from the JVM status store's
``executorList(false)``. Nothing here needs the Spark UI or a change to the
program.
"""

from __future__ import annotations

import contextlib
import gc
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_b",
            "shuffle_read_b", "input_b", "gc_ms")


class SparkCounters:
    """Cumulative counters of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._tracker = self._sc.statusTracker()

    def read(self) -> dict[str, int]:
        # the status store is fed by the asynchronous listener bus; drain it
        # so the job that just returned is counted at this boundary
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        ids = self._tracker.getJobIdsForGroup(None)
        if ids:
            # ids are sequential, while the store keeps only the newest jobs
            last = max(ids)
            out["jobs"] = last + 1
            info = self._tracker.getJobInfo(last)
            if info is not None and len(info.stageIds):
                out["stages"] = max(info.stageIds) + 1
        execs = self._jsc.statusStore().executorList(False)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["tasks"] += e.completedTasks()
            out["failed_tasks"] += e.failedTasks()
            out["shuffle_write_b"] += e.totalShuffleWrite()
            out["shuffle_read_b"] += e.totalShuffleRead()
            out["input_b"] += e.totalInputBytes()
            out["gc_ms"] += e.totalGCTime()
        return out


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "delta", "counts")

    def __init__(self, sid, name, parent):
        self.sid, self.name, self.parent = sid, name, parent
        self.start = self.end = 0.0
        self.delta: dict[str, int] = {}
        self.counts: dict[str, float] = {}

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_dict(self, run_id: str) -> dict:
        return {"id": self.sid, "name": self.name, "parent": self.parent,
                "run": run_id, "start": self.start, "end": self.end,
                "counters": self.delta, "counts": self.counts}


class Tracer:
    """Collects spans in memory while ``enabled``; otherwise every span is
    a no-op, so untraced runs execute the same harness code without
    counter reads."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counters: SparkCounters | None = None

    def attach(self, spark) -> None:
        if self.enabled:
            self._counters = SparkCounters(spark)

    def _read(self) -> dict[str, int]:
        return self._counters.read() if self._counters else {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent)
        self.spans.append(sp)
        self._stack.append(sp)
        before = self._read()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            after = self._read()
            sp.delta = {k: after[k] - before.get(k, 0) for k in after}
            self._stack.pop()

    @contextlib.contextmanager
    def patched(self, targets):
        """Route calls into the program through spans for the duration of
        the block. ``targets`` holds ``(module, attr, span_name,
        materialise, after)``: ``materialise`` runs the action behind a
        returned lazy DataFrame inside the span, ``after(args, out)`` runs
        outside it to attach counts."""
        if not self.enabled:
            yield
            return
        saved = []
        for module, attr, name, materialise, after in targets:
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr,
                    self._wrap(fn, name, materialise, after))
        try:
            yield
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)

    def _wrap(self, fn, name, materialise, after):
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if materialise:
                    out = out.localCheckpoint(eager=True)
            if after is not None:
                sp.counts.update(after(args, out))
            return out

        return traced

    def dump(self) -> list[dict]:
        return [s.as_dict(self.run_id) for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, tuple[float, dict[str, int]]]:
    """Per span: its duration and counter deltas minus those of its
    children."""
    out = {s.sid: [s.end - s.start, dict(s.delta)] for s in spans}
    for s in spans:
        if s.parent is not None:
            parent = out[s.parent]
            parent[0] -= s.end - s.start
            for k, v in s.delta.items():
                parent[1][k] = parent[1].get(k, 0) - v
    return {k: (dur, delta) for k, (dur, delta) in out.items()}


class MemorySampler:
    """Peak memory of the Python side of the run: this process and the
    Python workers under the driver JVM, sampled from /proc. Each process
    counts its proportional set size, so pages that forked workers share
    are counted once. The JVM itself is left out; ``jvm_retained_mb``
    reads its own account of the memory it holds."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(
                _pss_kb(pid) for pid in _descendants(os.getpid())
                if _comm(pid) != "java"))
            self._stop.wait(self.period_s)


def jvm_retained_mb(spark) -> float:
    """Memory the JVM holds on to: heap in use right after a full
    collection, plus the peak of each non-heap pool (class metadata and
    compiled code). Python collects first, so that JVM objects that only
    dropped Python handles kept alive are released. The JVM collects
    twice, a second apart, because Spark's cleaner frees the blocks of
    unreachable tables only after the first collection has found them."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    jvm.System.gc()
    time.sleep(1)
    jvm.System.gc()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    non_heap = sum(pool.getPeakUsage().getUsed()
                   for pool in mf.getMemoryPoolMXBeans()
                   if pool.getType().name() == "NON_HEAP")
    return (heap + non_heap) / 2**20


def tree_cpu_s() -> float:
    """Processor time, user and system, of this process and all its
    descendants (the driver JVM and its Python workers) so far, children
    that have ended included."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended after the listing
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def host_cpu_s() -> tuple[float, float]:
    """(stolen, total) CPU seconds of the whole machine since boot: time
    its hypervisor gave to other guests while this one had work, and all
    time across its CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7] / CLK_TCK, sum(ticks) / CLK_TCK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listdir and open
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def unit_tables(spans: list[Span], unit_names: set[str]) -> list[dict]:
    """One table per unit span (a measured operation or a set-up
    repetition): self time and self counter deltas summed per layer
    (``<layer>.self_s``, ``<layer>.<counter>``), per span name
    (``span:<name>.self_s`` and inclusive ``span:<name>.total_s`` and
    ``span:<name>.<counter>``), and the counts attached to any span in it.
    Spans of a unit's own name and their descendants belong to it."""
    own = self_times(spans)
    by_id = {s.sid: s for s in spans}
    tables = {}
    for s in spans:
        node, unit = s, None
        while node is not None:
            if node.name in unit_names:
                unit = node
                break
            node = by_id.get(node.parent)
        if unit is None:
            continue
        t = tables.setdefault(unit.sid, {"unit": unit.name,
                                          "unit_s": unit.end - unit.start})
        t.update(s.counts)
        if s is unit:
            continue
        dur, delta = own[s.sid]
        for key, value in ((f"{s.layer}.self_s", dur),
                           (f"span:{s.name}.self_s", dur),
                           (f"span:{s.name}.total_s", s.end - s.start)):
            t[key] = t.get(key, 0.0) + value
        for k, v in delta.items():
            t[f"{s.layer}.{k}"] = t.get(f"{s.layer}.{k}", 0) + v
        for k, v in s.delta.items():
            t[f"span:{s.name}.{k}"] = t.get(f"span:{s.name}.{k}", 0) + v
    return list(tables.values())
