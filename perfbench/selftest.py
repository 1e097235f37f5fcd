#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the root of a source checkout:

    python3 perfbench/selftest.py

It checks that

1. every workload, untraced and traced, prints exactly the metric names and
   units ``BENCHMARK.json`` lists, with ``correct`` true;
2. a planted wrong answer, an engine function patched to return a wrong
   result, makes the command exit 1 with ``correct`` false;
3. in a directory holding only ``BENCHMARK.json`` and ``perfbench/``, the
   command exits non-zero and prints no result.

It takes a few minutes: every case starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = "1"

# Runs the benchmark with aggregates.group_agg inflating its first aggregate
# by 0.1 %: the monthly average and zone top-k reads must catch it.
PLANT = """
import os, runpy, sys
sys.path[:0] = [{root!r}, os.path.dirname({run!r})]
from pyspark.sql import functions as F
from nyc_tlc_trip_data_pipelines_spark.operators import aggregates
real = aggregates.group_agg
def wrong(df, keys, aggs):
    out = real(df, keys, aggs)
    name = next(iter(aggs))
    return out.withColumn(name, F.col(name) * 1.001)
aggregates.group_agg = wrong
sys.argv = ["run.py"] + sys.argv[1:]
runpy.run_path({run!r}, run_name="__main__")
"""


def run(argv: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(argv, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result


def args(workload: str, trace: int) -> list[str]:
    return ["--workload", workload, "--seed", "1", "--seconds", SECONDS, "--trace", str(trace)]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    bench = [sys.executable, os.path.join(HERE, "run.py")]
    for w in spec["workloads"]:
        for trace in (0, 1):
            code, res = run(bench + args(w["name"], trace))
            expect(code == 0 and res is not None and res["correct"], f"{w['name']} trace={trace} runs correct")
            got = {k: v["unit"] for k, v in (res or {}).get("metrics", {}).items()}
            expect(got == want[trace], f"{w['name']} trace={trace} prints the BENCHMARK.json names and units")

    plant = PLANT.format(root=ROOT, run=os.path.join(HERE, "run.py"))
    code, res = run([sys.executable, "-c", plant] + args("gold_serving", 0))
    expect(
        code == 1 and res is not None and not res["correct"] and res["failed"] > 0,
        "a planted wrong answer fails the command",
    )

    bare = os.path.join(ROOT, ".perfbench_tmp", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, res = run([sys.executable, "perfbench/run.py"] + args("gold_serving", 0), cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass
    expect(code != 0 and res is None, "without the engine's sources it exits non-zero and prints no result")

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
