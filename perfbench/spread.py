#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median,
quartiles and spread (quartile distance / median), the figures a
baseline or an A/B comparison rests on.

    python3 perfbench/spread.py --workload crawl --seeds 1-10 [--trace 1] [--out f.json]

Run from the root of a graft checkout. Seconds come from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    runs = []
    for seed in seeds_of(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            sys.exit(f"seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **res})
        print(f"seed {seed}: {wall:.1f} s correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']}", flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        summary[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med,
                         "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}
        print(f"  {name:32s} median {med:<12.6g} q1 {q1:<12.6g} q3 {q3:<12.6g} "
              f"spread {summary[name]['spread']:.3f}")
    walls = [r["wall_s"] for r in runs]
    print(f"  run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s; "
          f"all correct: {all(r['correct'] for r in runs)}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "trace": a.trace, "seconds": seconds,
                       "runs": runs, "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
