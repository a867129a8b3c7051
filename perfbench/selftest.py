#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/selftest.py [--workload etl_ingest] [--seed 7]

1. Failure path: a run with PERFBENCH_FAULT set gains a query that always
   throws; the run must exit non-zero, report `correct: false`, and count
   the injected executions in `failed` and in the labels' `error_rate`.
2. Exact counts: the traced passes of one run, and two traced runs with
   one seed, must give identical per-pass counts of jobs, stages, tasks,
   construction jobs and written bytes; any count that differs is named.
   Two counts are reported, not asserted:
   - Warm-pass codegen compiles repeat within a run but not between
     runs. Spark's codegen cache evicts in an order that depends on
     thread timing.
   - Shuffle bytes written move by a few bytes in a few hundred thousand
     when a task shuffles rows it fetched from an earlier shuffle. The
     fetch order, and so the compressed size, changes from pass to pass.
3. Bare directory: with only BENCHMARK.json and perfbench/ present, the
   benchmark must exit non-zero without printing a result.

Exits non-zero if any check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPORTED_ONLY = {"codegen.compiles", "shuffle.write_bytes"}


def run(workload, seed, trace, cwd=ROOT, env=None):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=400)
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    return p.returncode, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="etl_ingest")
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    problems = []

    rc, lines = run(a.workload, a.seed, 0,
                    env=dict(os.environ, PERFBENCH_FAULT="perfbench_fault"))
    res, labels = lines[-1], lines[-2]["labels"]
    if rc == 0 or res["correct"] or res["failed"] < 1 or labels["error_rate"] <= 0:
        problems.append(f"injected fault not reported: rc={rc} {res} "
                        f"error_rate={labels['error_rate']}")
    print(f"fault run: rc={rc} failed={res['failed']}/{res['attempted']} "
          f"error_rate={labels['error_rate']:.3f}")

    counts = []
    for _ in range(2):
        rc, lines = run(a.workload, a.seed, 1)
        if rc != 0:
            problems.append(f"traced run failed: rc={rc}")
            break
        counts.append(lines[-2]["labels"]["per_pass_counts"])
        in_run = lines[-2]["labels"]["count_drift"]
        if in_run:
            print(f"counts differing between passes of one run: {in_run}")
        if set(in_run) - REPORTED_ONLY:
            problems.append(f"counts differ between passes of one run: {in_run}")
    if len(counts) == 2:
        drift = sorted({k for p1, p2 in zip(counts[0], counts[1])
                        for k in p1 if p1[k] != p2.get(k)})
        for k in drift:
            print(f"{k} differs between two runs of seed {a.seed}: "
                  f"{[p[k] for p in counts[0]]} vs {[p[k] for p in counts[1]]}")
        asserted = [k for k in drift if k not in REPORTED_ONLY]
        if asserted:
            problems.append(
                f"counts differ between two runs of seed {a.seed}: {asserted}")
        print(f"traced run counts: {counts[0]}")

    scratch = os.path.join(ROOT, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run(a.workload, a.seed, 0, cwd=bare)
        if rc == 0 or lines:
            problems.append(f"bare directory: rc={rc}, printed {lines}")
        print(f"bare directory: rc={rc}")
    finally:
        shutil.rmtree(bare)

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
