#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports how steady it is.

    python3 perfbench/spread.py --seeds 1-10 [--workload adhoc_sql] [--out f.json]

For every workload and end-to-end metric it prints the median of the runs
and the spread: the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, next to
the metric's bound from BENCHMARK.json. A spread above its bound (setup_s
excepted) makes the benchmark too noisy to judge a change. `--out` keeps
every run's values.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    runs = {}
    for w in workloads:
        for s in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit(f"{w} seed {s}: exit {p.returncode}")
            res, labels = json.loads(lines[-1]), json.loads(lines[-2])["labels"]
            runs.setdefault(w, []).append(
                {k: v["value"] for k, v in res["metrics"].items()})
            runs[w][-1].update(steal_core_s=labels["steal_core_s"],
                               cal_start_s=labels["cal_start_s"],
                               pass_walls_s=labels["pass_walls_s"])
            print(f"{w} seed {s}: " + " ".join(
                f"{k}={v:.4g}" for k, v in runs[w][-1].items()
                if isinstance(v, float)), flush=True)
    worst = 0.0
    for w, rs in runs.items():
        for m in spec["end_to_end"]:
            vals = [r[m["name"]] for r in rs]
            med = statistics.median(vals)
            if len(vals) < 2:
                print(f"{w:18s} {m['name']:16s} {med:.4f} {m['unit']} (one run)")
                continue
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            if m["name"] != "setup_s":
                worst = max(worst, spread / m["bound"])
            print(f"{w:18s} {m['name']:16s} median {med:10.4f} {m['unit']:4s} "
                  f"spread {spread:6.3f} bound {m['bound']}")
    print(f"worst spread / bound (setup_s excepted): {worst:.2f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(runs, fh, indent=1)


if __name__ == "__main__":
    main()
