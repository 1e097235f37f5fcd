"""Spans and counters recorded from outside the engine.

A :class:`Tracer` opens one span around each call the benchmark makes into
an engine layer. With tracing on, each span also gets its own Spark job
group; when the span closes, the jobs of that group and their stages are
read back from the status store (which works with ``spark.ui.enabled``
false), and the files the call wrote are counted on disk. With tracing
off, :meth:`Tracer.span` records nothing, so untraced runs pay only a
Python context manager per call.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    iteration: int | None
    built: float | None = None
    end: float | None = None
    counters: dict = field(default_factory=dict)

    def mark_built(self) -> None:
        """The call returned its DataFrame; what follows is the
        benchmark's own action on it."""
        self.built = time.perf_counter()


class _NullSpan:
    def mark_built(self) -> None:
        pass


def data_files(root: str) -> dict[str, int]:
    """Data files under ``root`` (path -> bytes). Like Spark's readers, it
    skips names that start with ``_`` or ``.``, except partition directories
    such as ``__job_id=s001``."""

    def hidden(name: str) -> bool:
        return name.startswith(("_", ".")) and "=" not in name

    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not hidden(x)]
        for f in files:
            if not hidden(f):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def storage_state(sc) -> tuple[int, float]:
    """(persisted RDD count, MB they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return sc._jsc.getPersistentRDDs().size(), mb


def release_storage(spark) -> None:
    """Drop every cached relation and every persisted RDD, so the next
    iteration cannot read this one's cached data."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def peak_rss_mb(sc) -> float:
    """High-water resident set of the driver JVM, from /proc."""
    pid = sc._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of process ``root`` and every process
    under it, from /proc. Under the benchmark's own process that is the
    Python driver, the JVM it launched and the JVM's Python workers; a
    worker that has exited and been reaped counts in its parent."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended meanwhile
                continue
            stats[int(name)] = (int(f[1]), sum(map(int, f[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            todo.extend(children.get(pid, ()))
    return ticks / _TICKS


class Reference:
    """A fixed Spark job built with PySpark alone, without engine code, in a
    session of its own whose SQL settings are pinned here. It runs between
    the operations, so a run can state operation times in units of it: when
    the machine slows down, both slow down together."""

    ROWS = 50_000
    CONF = {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(10 << 20),
    }

    def __init__(self, spark):
        import numpy as np

        self.session = spark.newSession()
        for k, v in self.CONF.items():
            self.session.conf.set(k, v)
        ids = np.arange(self.ROWS)
        k, v = ids % 101, ids * 7 % 1009
        self.want_sums = [(int(i), int(s)) for i, s in enumerate(np.bincount(k, weights=v).astype("int64"))]
        pairs = np.unique(k * 1009 + v)
        self.want_distinct = [(int(i), int(n)) for i, n in enumerate(np.bincount(pairs // 1009))]
        self.seconds: list[float] = []
        self.cpu: list[float] = []

    def block(self, runs: int) -> tuple[float, float]:
        """Run the job ``runs`` times; return its mean wall and CPU seconds
        per run. A fixed count, not a time, keeps the jobs a run leaves in
        Spark's status store, and so ``retained_heap_mb``, the same from run
        to run."""
        for _ in range(runs):
            self.run()
        return statistics.mean(self.seconds[-runs:]), statistics.mean(self.cpu[-runs:])

    def run(self, record: bool = True) -> None:
        from pyspark.sql import functions as F

        t0, c0 = time.perf_counter(), cpu_seconds(os.getpid())
        df = self.session.range(0, self.ROWS, numPartitions=4).select(
            (F.col("id") % 101).alias("k"), (F.col("id") * 7 % 1009).alias("v")
        )
        sums = df.groupBy("k").agg(F.sum("v").alias("s")).orderBy("k").collect()
        per_v = df.groupBy("v", "k").agg(F.count(F.lit(1)).alias("n"))
        distinct = per_v.groupBy("k").agg(F.count(F.lit(1)).alias("d")).orderBy("k").collect()
        dt, cpu = time.perf_counter() - t0, cpu_seconds(os.getpid()) - c0
        if [tuple(r) for r in sums] != self.want_sums or [tuple(r) for r in distinct] != self.want_distinct:
            raise AssertionError("the reference job returned a wrong answer")
        if record:
            self.seconds.append(dt)
            self.cpu.append(cpu)


def retained_heap_mb(sc) -> float:
    """Driver JVM heap still in use once garbage is gone. Python collects
    first, so that JVM objects only a dead Python proxy held are released.
    The JVM then collects three times, half a second apart: Spark's
    ContextCleaner frees broadcast and shuffle state only after a collection
    has found its owner unreachable, so one collection leaves a varying
    amount of it behind."""
    gc.collect()
    jvm = sc._jvm
    for k in range(3):
        if k:
            time.sleep(0.5)
        jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration: int | None = None
        self._open: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Point the tracer at the current session, or at none while a
        session starts: spans then record their timing only."""
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str, out: str | None = None):
        """Span around one engine call. ``out`` names a directory the call
        writes into; the files new or changed under it are counted."""
        if not self.enabled:
            yield _NullSpan()
            return
        sc = self._sc
        idx = len(self.spans)
        rec = Span(name, time.perf_counter(), self._open[-1] if self._open else None, self.iteration)
        self.spans.append(rec)
        if sc is None:
            try:
                yield rec
            finally:
                rec.end = time.perf_counter()
            return
        self._open.append(idx)
        group = f"perfbench-{idx}"
        before = data_files(out) if out else {}
        rdds0, _ = storage_state(sc)
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._open.pop()
            if self._open:
                sc.setJobGroup(f"perfbench-{self._open[-1]}", self.spans[self._open[-1]].name)
            else:
                sc._jsc.clearJobGroup()
            rec.counters = self._job_counters(group)
            rec.counters["persisted_rdds_delta"] = storage_state(sc)[0] - rdds0
            if out:
                after = data_files(out)
                new = {p: b for p, b in after.items() if before.get(p) != b}
                rec.counters["files_written"] = len(new)
                rec.counters["bytes_written"] = sum(new.values())

    def _job_counters(self, group: str) -> dict:
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        c = dict.fromkeys(
            ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes"), 0
        )
        store = jsc.statusStore()
        for job in sc.statusTracker().getJobIdsForGroup(group):
            c["jobs"] += 1
            info = sc.statusTracker().getJobInfo(job)
            for stage in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(stage)
                except Py4JJavaError:  # evicted from the store, or never attempted
                    continue
                c["tasks"] += sd.numCompleteTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1000
                c["gc_s"] += sd.jvmGcTime() / 1000
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.diskBytesSpilled()
        return c

    def layer_values(self, keep: Callable[[Span], bool]) -> dict[str, list[float]]:
        """``<span name>.<counter>`` -> one value per kept call."""
        vals: dict[str, list[float]] = {}
        for s in filter(keep, self.spans):
            built = s.built if s.built is not None else s.end
            row = {"s": s.end - s.start, "build_s": built - s.start, "exec_s": s.end - built}
            row.update(s.counters)
            for k, v in row.items():
                vals.setdefault(f"{s.name}.{k}", []).append(v)
        return vals

    def self_times(self, keep: Callable[[Span], bool]) -> dict[str, float]:
        """Total self time per span name over the kept spans: each span's
        duration minus the part its child spans cover (children never
        overlap: there is one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if keep(s):
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
