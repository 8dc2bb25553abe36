#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed on each workload and
print, per end-to-end metric, the median and the quartile spread (distance
between the first and third quartile over the median).

    python3 perfbench/steadiness.py --workloads wrangle,queries \
        --seeds 1-10 --seconds 30 [--trace 0] [--out results.json]
"""
import argparse
import json
import os
import subprocess
import sys
import time

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="first-last")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    results = {}
    for w in a.workloads.split(","):
        for seed in range(lo, hi + 1):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", a.seconds,
                                "--trace", a.trace], capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r["wall_s"] = time.time() - t0
            results.setdefault(w, []).append(r)
            print(f"{w} seed {seed}: {r['wall_s']:.0f} s correct={r['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    for w, rs in results.items():
        print(f"\n{w}: {len(rs)} runs, all correct: {all(r['correct'] for r in rs)}, "
              f"median wall {M.median([r['wall_s'] for r in rs]):.1f} s")
        for k in rs[0]["metrics"]:
            vals = [r["metrics"][k]["value"] for r in rs]
            sp = M.spread(vals) if len(vals) >= 2 else float("nan")
            print(f"  {k:28s} median {M.median(vals):12.5g}  spread {sp:7.4f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
