#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload dashboard_repeat --seed 1 \
        --seconds 10 --trace 0

Builds the program from source if needed (`perfbench/build.py`), runs the
workload in one fresh JVM (`perfbench/src/perfbench/Harness.scala`) on the
read-only sf0.1 tables, checks every query's result against its DuckDB
oracle (`perfbench/check.py`), and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer ones
(`--trace 1`). The line before it holds the run's labels: seed, cores,
heap, source digest, calibration and steal readings, error rate.
Workloads, metrics and bounds are declared in BENCHMARK.json.

Exit status is 0 only when every execution succeeded and every result
matched its oracle. The tables are read from `~/testdata/sf0.1`, or from
SPARK_GRAFT_SF_DIR when set (the variable `graft.Bench` reads).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
HEAP = "4g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def end_to_end(r):
    return {
        "setup_s": statistics.median(r["setup_s"]),
        "cold_pass_s": r["cold_pass_s"],
        "pass_min_s": min(r["pass_s"]),
    }


def declared(values, kind):
    """The metrics BENCHMARK.json declares under `kind`, with their units."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in SPEC[kind]}


def git_commit():
    """The commit being measured, or None outside a git checkout."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=HERE,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def run_jvm(args, classes, work):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}{os.pathsep}{build.CLASSPATH}",
            "perfbench.Harness", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, SF_DIR])
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(f"{work}/jvm.log") as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    with open(f"{work}/result.json") as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes, source_sha = build.build()
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"perfbench: no tables at {SF_DIR}")
    # a fresh work dir per run: warehouse, spill, dumps and logs never
    # carry over between runs or workloads
    work = os.path.join(build.OUT, "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        t0 = time.time()
        r = run_jvm(args, classes, work)
        wrong = check.compare(SF_DIR, f"{work}/check", r["checked"])
        failures = r["failures"] + [f"{n} (oracle): {why}"
                                    for n, why in wrong.items()]
        if args.trace:
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(f"{work}/trace.jsonl", os.path.join(
                traces, f"{args.workload}-seed{args.seed}.jsonl"))
        wall = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    failed = len(failures)
    attempted = r["attempted"]
    lat = sorted(r["latencies_s"])
    labels = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": r["cores"], "sf_dir": SF_DIR,
        "driver_heap_mb": r["driver_heap_mb"], "commit": git_commit(),
        "source_sha256": source_sha,
        "queries": r["queries"], "warm_passes": r["warm_passes"],
        "pass_walls_s": r["pass_s"], "setups_s": r["setup_s"],
        "warm_samples": len(lat), "latency_p50_s": statistics.median(lat),
        "throughput_qps": r["untraced_executions"] / r["untraced_wall_s"],
        "latency_p90_s": (statistics.quantiles(lat, n=10)[-1]
                          if len(lat) >= 100 else None),
        "cold_compiles": r["cold_compiles"], "peak_rss_mb": r["peak_rss_mb"],
        "error_rate": failed / attempted, "failures": failures,
        "cal_start_s": r["cal_start_s"], "cal_end_s": r["cal_end_s"],
        "steal_core_s": r["steal_core_s"], "run_wall_s": wall,
    }
    if args.trace:
        labels["count_drift"] = r["layers"]["count_drift"]
        labels["per_pass_counts"] = r["layers"]["per_pass"]
    print(json.dumps({"labels": labels}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": (declared(r["layers"]["metrics"], "per_layer") if args.trace
                    else declared(end_to_end(r), "end_to_end"))}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
