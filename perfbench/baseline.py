#!/usr/bin/env python3
"""Measure the baseline: run every workload on several seeds and summarise.

    python3 perfbench/baseline.py [--runs 10] [--first-seed 1] [--workload W ...]
                                  [--out perfbench/baseline.json]

For each workload and end-to-end metric it records the median and the
first and third quartiles (statistics.quantiles(values, n=4)) of the runs'
values, and the spread (Q3 - Q1) / median next to the metric's bound in
BENCHMARK.json. A spread above a third of the bound is flagged: the
benchmark is meant to be steadier than that. Runs go one at a time, each
with its own seed. With --out, the workloads run replace their entries in
that file and the others stay.
"""

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    summary = {}
    for w in workloads:
        values, walls = {}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            if p.returncode != 0 or not res or not res["correct"]:
                print(f"{w} seed {seed}: FAILED (exit {p.returncode})\n{p.stdout[-2000:]}"
                      f"{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s", file=sys.stderr)
        rows = {}
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
            med = statistics.median(xs)
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds[k]["bound"]
            flag = "" if spread <= bound / 3 or k == "setup_s" else "  <-- above a third of the bound"
            print(f"{w:10s} {k:18s} median {med:12.6g}  Q1 {q1:12.6g}  Q3 {q3:12.6g}  "
                  f"spread {spread:6.3f}  bound {bound}{flag}")
            rows[k] = {"unit": bounds[k]["unit"], "median": med, "q1": q1, "q3": q3,
                       "spread": spread, "values": xs}
        summary[w] = {"runs": a.runs, "seeds": [a.first_seed, a.first_seed + a.runs - 1],
                      "run_wall_s_median": statistics.median(walls), "metrics": rows}
    if a.out:
        # workloads not run this time keep their earlier entries
        doc = {"workloads": {}}
        if os.path.exists(a.out):
            with open(a.out) as fh:
                doc = json.load(fh)
        doc["machine"] = f"{os.cpu_count()} cpus, {platform.machine()}, {platform.system()}"
        doc["run_seconds"] = spec["run_seconds"]
        doc["workloads"].update(summary)
        with open(a.out, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
