#!/usr/bin/env python3
"""Benchmark of the engine on two seeded workloads.

    python3 perfbench/run.py --workload gold_serving --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One run generates the workload's
inputs from ``--seed`` and sets up several times, each time with a fresh
``session.get_spark`` plus the workload's engine-side set-up; ``setup_s`` is
the median. After one untimed warm-up it runs operations as a closed loop
with one client on ``local[<cores>]`` until ``--seconds`` of operation time
have passed and the last cycle of operations is complete. Every output is
checked against the generator's planted truth.

In an untraced run, a fixed reference job built with PySpark alone, in a
session of its own (``probe.Reference``), runs before the loop and after
every operation. The gated operation metrics are the median over
operations of each one's wall and CPU time in units of the reference runs
just before and after it: a shared host can slow everything down by 2.5x
for minutes at a time, and the ratio moves far less with it. The absolute
times are printed above the result.

The last line of stdout is one JSON object. With ``--trace 0`` it carries the
end-to-end metrics, all taken with tracing off. With ``--trace 1`` every
second cycle is traced (a job group and status-store read per layer call)
and the line carries the per-layer metrics; the lines above it give each
layer's self time and the tracing overhead, traced minus untraced
operations. A wrong answer or a failed operation makes ``correct`` false and
the exit code 1. Without the engine's sources next to ``perfbench/`` the
command exits 2 and prints no result.

All files go under one directory in the checkout, removed at exit; Spark's
local and temporary directories are pointed there too. A traced run writes
its spans to ``.perfbench_traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np
from probe import (
    Reference,
    Tracer,
    cpu_seconds,
    median,
    peak_rss_mb,
    release_storage,
    retained_heap_mb,
    storage_state,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "nyc_tlc_trip_data_pipelines_spark"
MIN_FREE_BYTES = 2 << 30
DRIVER_MEMORY = "2g"
# C1 only: the JIT reaches its steady state within the warm-up instead of
# compiling in the background for minutes, on cores the run measures. One
# collector thread, for the same reason.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData"

# The reference job (probe.Reference) runs untimed, then in a block of runs
# before the loop, and in a block of the workload's ref_runs after every
# operation.
REF_WARM_RUNS = 3
REF_FIRST_RUNS = 5

END_TO_END = {"setup_s": "s", "op_p50_rel": "ratio", "op_cpu_rel": "ratio", "retained_heap_mb": "MB"}

_TEMPLATE_COUNTERS = ("build_s", "exec_s", "jobs", "tasks", "shuffle_write_bytes")
_LAYER_COUNTERS = {
    "session.get_spark": ("s",),
    "pipeline.ingest_bronze": ("s", "jobs", "tasks", "executor_run_s", "gc_s", "files_written", "bytes_written"),
    "pipeline.build_gold": ("s", "shuffle_write_bytes", "files_written", "bytes_written"),
    "pipeline.analytics_q1": ("build_s", "exec_s", "jobs", "shuffle_write_bytes", "spill_bytes"),
    "pipeline.analytics_q2": ("build_s", "exec_s", "jobs", "shuffle_write_bytes", "spill_bytes"),
    "io.append_versioned": ("s",),
    "io.read_version": ("s",),
    "io.read_version_where": _TEMPLATE_COUNTERS,
    "operators.aggregates.group_agg": _TEMPLATE_COUNTERS,
    "operators.aggregates.approx_percentile_agg": _TEMPLATE_COUNTERS,
    "operators.windows.window_avg_multi_grain": _TEMPLATE_COUNTERS,
    "operators.windows.top_n_per_group": _TEMPLATE_COUNTERS,
    "io.merge_versioned": ("s", "jobs", "bytes_written", "files_written"),
    "operators.corpus.quality_filter": ("exec_s",),
    "operators.text.minhash_verified_pairs": (
        "build_s", "exec_s", "jobs", "shuffle_write_bytes", "spill_bytes", "persisted_rdds_delta",
    ),
    "operators.graph.connected_components": ("build_s", "exec_s", "jobs", "persisted_rdds_delta"),
    "operators.vectors.semantic_dedup_pairs": (
        "build_s", "exec_s", "jobs", "executor_run_s", "gc_s", "persisted_rdds_delta",
    ),
    "operators.text.dedup_keep_best": ("exec_s",),
}  # fmt: skip
_UNITS = {"s": "s", "jobs": "count", "tasks": "count", "files_written": "count",
          "persisted_rdds_delta": "count"}  # fmt: skip
PER_LAYER = {
    f"{layer}.{c}": _UNITS.get(c, "s" if c.endswith("_s") else "B")
    for layer, counters in _LAYER_COUNTERS.items()
    for c in counters
}
PER_LAYER["storage.cached_mb_left"] = "MB"
PER_LAYER["storage.persisted_rdds_left"] = "count"


def tail(xs: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if not n:
        return "n=0"
    out = f"p50 {np.percentile(xs, 50):.4f} s"
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            out += f", p{p} {np.percentile(xs, p):.4f} s"
            break
    return out + f" (n={n})"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["gold_serving", "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no engine sources at {os.path.join(ROOT, ENGINE)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def _environment(work: str) -> None:
    """Keep Spark's scratch files inside ``work`` and fix the session shape."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    for d in (work, local):
        free = shutil.disk_usage(d).free
        if free < MIN_FREE_BYTES:
            raise SystemExit(f"perfbench: only {free >> 20} MiB free under {d}")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '{JVM_OPTIONS} -Djava.io.tmpdir={tmp}' pyspark-shell",
    )


def run(args, work: str) -> int:
    _environment(work)
    os.chdir(work)  # anything Spark writes relative to the cwd lands here too
    sys.path.insert(0, ROOT)
    import importlib

    engine = importlib.import_module(ENGINE)
    if not os.path.abspath(engine.__file__).startswith(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: imported the engine from {engine.__file__}", file=sys.stderr)
        return 2
    from pyspark import SparkContext
    from workloads import WORKLOADS, WrongAnswer

    from nyc_tlc_trip_data_pipelines_spark.session import get_spark

    cores = os.environ["SPARK_GRAFT_CPUS"]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} master=local[{cores}]")  # fmt: skip
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "inputs"))
    print(f"  inputs generated in {time.perf_counter() - t0:.2f} s (outside setup_s)")

    tracer = Tracer(bool(args.trace))
    attempted = failed = 0

    def verify(check, what: str) -> None:
        nonlocal failed
        try:
            check()
        except WrongAnswer as e:
            failed += 1
            print(f"WRONG ANSWER in {what}: {e}", file=sys.stderr)

    spark = None
    gateway = None
    setups: list[float] = []
    try:
        for k in range(wl.setups):
            if spark is not None:
                spark.stop()
                shutil.rmtree(os.path.join(work, "out", f"setup-{k - 1}"), ignore_errors=True)
            tracer.bind(None)
            tracer.iteration = -1 - k
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark()
            gateway = SparkContext._gateway
            tracer.bind(spark)
            checks = wl.setup(spark, tracer, os.path.join(work, "out", f"setup-{k}"))
            setups.append(time.perf_counter() - t0)
            for chk in checks:
                attempted += 1
                verify(chk, f"set-up {k}")
        tracer.iteration = -1 - wl.setups
        t0 = time.perf_counter()
        warm = wl.warmup(spark, tracer, os.path.join(work, "out", "warm-up"))
        warm_s = time.perf_counter() - t0
        for o in warm:
            attempted += 1
            verify(o.verify, "warm-up")
        release_storage(spark)
        shutil.rmtree(os.path.join(work, "out", "warm-up"), ignore_errors=True)

        sc = spark.sparkContext
        ref = None if args.trace else Reference(spark)  # a traced run gates nothing
        if ref:
            for _ in range(REF_WARM_RUNS):
                ref.run(record=False)
            before = ref.block(REF_FIRST_RUNS)
        plain, traced, left = [], [], []
        busy = 0.0
        i = 0
        # Whole cycles only, so every run has the same mix of operations. A
        # traced run traces every second cycle and runs at least two.
        while busy < args.seconds or i % wl.cycle or (args.trace and i < 2 * wl.cycle):
            tracer.enabled = bool(args.trace) and (i // wl.cycle) % 2 == 1
            tracer.iteration = i
            path = os.path.join(work, "out", f"iter-{i}")
            attempted += 1
            o = None
            t0 = time.perf_counter()
            cpu0 = cpu_seconds(os.getpid())
            try:
                with tracer.span(f"{args.workload}.operation"):
                    o = wl.step(spark, tracer, i, path)
                o.cpu = cpu_seconds(os.getpid()) - cpu0
            except Exception:  # an operation that raises is a failed operation
                failed += 1
                busy += time.perf_counter() - t0
                print(f"FAILED operation {i}:\n{traceback.format_exc()}", file=sys.stderr)
            else:
                busy += o.seconds
                (traced if tracer.enabled else plain).append(o)
                verify(o.verify, f"operation {i}")
            left.append(storage_state(sc))
            release_storage(spark)
            shutil.rmtree(path, ignore_errors=True)
            if ref:
                after = ref.block(wl.ref_runs)
                if o is not None:  # in units of the reference blocks just before and after it
                    o.rel = o.seconds / ((before[0] + after[0]) / 2)
                    o.cpu_rel = o.cpu / ((before[1] + after[1]) / 2)
                before = after
            i += 1
        tracer.enabled = False
        for chk in wl.finish(spark):
            attempted += 1
            verify(chk, "the end of the run")
        rss = peak_rss_mb(sc)
        heap = retained_heap_mb(sc)
    finally:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    busy_plain = sum(o.seconds for o in plain)
    cpu_plain = sum(o.cpu for o in plain)
    main = [o for o in plain if o.kind == wl.main_kind]
    op_s, op_cpu = median([o.seconds for o in main]), median([o.cpu for o in main])
    print(f"  {wl.main_kind} p50 {op_s:.4f} s wall, {op_cpu:.4f} s CPU (n={len(main)})")
    if ref:
        e2e = {
            "setup_s": median(setups),
            "op_p50_rel": median([o.rel for o in main]),
            "op_cpu_rel": median([o.cpu_rel for o in main]),
            "retained_heap_mb": heap,
        }
        print(f"  reference job: p50 {median(ref.seconds):.4f} s wall, {median(ref.cpu):.4f} s CPU "
              f"(n={len(ref.seconds)})")  # fmt: skip
        print(f"  op_p50_rel {e2e['op_p50_rel']:.4f}, op_cpu_rel {e2e['op_cpu_rel']:.4f}")
    print(f"  setup_s {median(setups):.4f} s, median of {', '.join(f'{s:.3f}' for s in setups)}")
    print(f"  warm-up after the last set-up {warm_s:.3f} s ({len(warm)} operations, untimed)")
    parts = [p for o in plain for p in o.parts]
    for kind in sorted({o.kind for o in plain + parts}):
        print(f"  {kind} latency: {tail([o.seconds for o in plain + parts if o.kind == kind])}")
    for kind in sorted({o.kind for o in plain}):
        ops = [o for o in plain if o.kind == kind]
        print(f"  {kind} CPU: {tail([o.cpu for o in ops])}; wall/CPU s per operation: "
              + " ".join(f"{o.seconds:.2f}/{o.cpu:.2f}" for o in ops))  # fmt: skip
    print(f"  items_per_s {sum(o.items for o in plain) / busy_plain if busy_plain else 0.0:.6g} items/s, "
          f"items_per_cpu_s {sum(o.items for o in plain) / cpu_plain if cpu_plain else 0.0:.6g} items/s")  # fmt: skip
    for name, (value, unit) in wl.report(plain, busy_plain).items():
        print(f"  {name} {value:.6g} {unit}")
    print(f"  peak_rss_mb {rss:.1f} MB (driver JVM VmHWM)")
    print(f"  retained_heap_mb {heap:.1f} MB (driver heap after a full GC at the end)")
    print(f"  cached_mb_left {max((mb for _, mb in left), default=0.0):.3f} MB (max over "
          f"{len(left)} operations), persisted RDDs left {max((n for n, _ in left), default=0)}")  # fmt: skip
    print(f"  op_failure_ratio {failed / attempted:.4f} ({failed} of {attempted})")

    if args.trace:
        metrics = _layer_metrics(tracer, left)
        _trace_report(tracer, plain, traced)
        out = os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json")
        tracer.write(out)
        print(f"  spans written to {os.path.relpath(out, ROOT)}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))  # fmt: skip
    return 0 if failed == 0 else 1


def _layer_metrics(tracer, left) -> dict:
    """Median per call of every per-layer metric over the timed loop's traced
    operations (set-up calls for layers that only run in set-up); 0 for a
    layer this workload does not call."""
    loop = tracer.layer_values(lambda s: s.iteration >= 0)
    setup = tracer.layer_values(lambda s: s.iteration < 0)
    out = {}
    for name, unit in PER_LAYER.items():
        vals = loop.get(name) or setup.get(name) or []
        out[name] = {"value": median(vals), "unit": unit}
    out["storage.cached_mb_left"]["value"] = median([mb for _, mb in left])
    out["storage.persisted_rdds_left"]["value"] = median([n for n, _ in left])
    return out


def _trace_report(tracer, plain, traced) -> None:
    print("  self time per layer over the traced loop operations:")
    for name, s in sorted(tracer.self_times(lambda s: s.iteration >= 0).items(), key=lambda kv: -kv[1]):
        print(f"    {name:<48} {s:9.4f} s")
    for kind in sorted({o.kind for o in plain} & {o.kind for o in traced}):
        u = median([o.seconds for o in plain if o.kind == kind])
        t = median([o.seconds for o in traced if o.kind == kind])
        print(f"  tracing overhead on {kind}: untraced p50 {u:.4f} s, traced p50 {t:.4f} s, "
              f"{t - u:+.4f} s ({(t - u) / u:+.1%})")  # fmt: skip


if __name__ == "__main__":
    sys.exit(main())
