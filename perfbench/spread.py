#!/usr/bin/env python3
"""Steadiness check: run each workload on several seeds and report, per
metric, the median, the quartiles and the quartile spread as a share of the
median, next to the bound BENCHMARK.json fixes.

    python3 perfbench/spread.py --runs 10 [--first-seed 1] [--trace 0] [workload ...]

Run from the root of the checkout. Appends every result to
.bench_build/perfbench/spread.jsonl.
"""

import argparse
import json
import os
import subprocess
import sys
import time

import benchmath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    log = os.path.join(".bench_build", "perfbench", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    ok = True
    for w in workloads:
        values, elapsed = {}, []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.monotonic()
            r = subprocess.run(spec["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                               str(spec["run_seconds"]), "--trace", str(args.trace)],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            elapsed.append(time.monotonic() - t0)
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode}")
                ok = False
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "elapsed_s": elapsed[-1], **res}) + "\n")
            if not res["correct"]:
                print(f"{w} seed {seed}: incorrect output")
                ok = False
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {w}: {len(elapsed)} runs, {benchmath.median(elapsed):.1f} s median per run,"
              f" {sum(elapsed):.0f} s in all")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, q2, q3, spread = benchmath.quartile_spread(vs)
            b = bounds.get(k)
            flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
            if flag:
                ok = False
            print(f"  {k:28s} median {q2:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  spread {spread:7.3f}"
                  f"  bound {b}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
