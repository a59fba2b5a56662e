#!/usr/bin/env python3
"""Self-test of the benchmark harness on the tiny sf0.001 test tables.

    python3 perfbench/selftest.py

For each workload in BENCHMARK.json it sets up once, runs the
workload's first op in a cold, a warm untraced and a traced pass, then
an op that raises, and checks that

- every metric BENCHMARK.json names is in the result line, with its unit;
- the traced pass starts no more Spark jobs than the untraced pass;
- the raising op is counted as failed;
- the op's own output check passes.

Prints one line per failed check and exits 1 if there is any, else 0.
"""

from __future__ import annotations

import json
import os
import sys
import time

import run
from tracing import StatusReader, Tracer

SOURCE = "sf0.001"
RAISES = "selftest_op_that_raises"


def _job_count(status: StatusReader) -> int:
    """Jobs in the status store, once every posted event has reached it."""
    status.drain()
    return status.store.jobsList(None).size()


def check_workload(name: str, spec: dict) -> list[str]:
    wl = run.WORKLOADS[name]
    op = wl.ops[0]
    one_op = run.Workload(ops=(op,), cache_tables=wl.cache_tables, settle_passes=0)
    data = run.prepare(one_op, seed=1, source=SOURCE)
    bench = run.Bench(name, one_op, 1, data)
    try:
        bench.setup(since=time.perf_counter())
        first = bench.run_pass(0)
        status = StatusReader(bench.spark)
        j0 = _job_count(status)
        warm = [bench.run_pass(1)]
        j1 = _job_count(status)
        traced = [bench.run_pass(2, Tracer(bench.spark, name))]
        j2 = _job_count(status)
        raised = bench.run_op(RAISES, 3)
        verdicts = bench.check_outputs()
        rss = run.peak_rss_mb([os.getpid(), bench.jvm_pid()])
    finally:
        bench.shutdown()
    first.ops.append(raised)

    problems = []
    rec = run.summarize(bench, first, [], warm, traced, verdicts, rss)
    for kind, metrics, units in (
        ("end_to_end", rec["end_to_end"], run.END_TO_END_UNITS),
        ("per_layer", run.per_layer(bench, warm, traced), run.PER_LAYER_UNITS),
    ):
        line = json.loads(run.result_line({**rec, "metrics": metrics, "units": units}))
        printed = {k: v["unit"] for k, v in line["metrics"].items()}
        named = {m["name"]: m["unit"] for m in spec[kind]}
        if printed != named:
            problems.append(f"{name}: {kind} printed {printed}, BENCHMARK.json names {named}")
    if j2 - j1 > j1 - j0:
        problems.append(f"{name}: traced pass of {op} ran {j2 - j1} jobs, untraced {j1 - j0}")
    if raised.ok or rec["failed"] < 1 or rec["failed_ratio"] <= 0:
        problems.append(f"{name}: raising op not counted: {raised}, failed={rec['failed']}")
    if any(why is not None for why in verdicts.values()) or not all(r.ok for r in first.ops[:-1]):
        problems.append(f"{name}: {op} failed its output check: {verdicts} {first.ops}")
    return problems


def main() -> int:
    if not run.engine_importable():
        return 2
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        problems += check_workload(w["name"], spec)
    for p in problems:
        print(p)
    print("selftest", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
