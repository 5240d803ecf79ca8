#!/usr/bin/env python3
"""Run one workload on several seeds and print each end-to-end metric's
median, quartiles and spread (quartile distance / median), the way the
benchmark's bounds are judged.

    python3 perfbench/steadiness.py --workload kg_fused --seeds 1-10 [--out f.json]

Run from the repository root; each run is `perfbench/run.py` with the
given seed and BENCHMARK.json's run_seconds. With --out, the raw results
are written as JSON as well.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-4000:])
            sys.exit(f"seed {s}: run failed with code {r.returncode}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = s, time.time() - t0
        steal = re.search(r"host steal ([0-9.]+)%", r.stderr)
        res["steal_pct"] = float(steal.group(1)) if steal else None
        res["warm_up"] = "settled" if "(settled)" in r.stderr else "capped"
        runs.append(res)
        print(f"seed {s}: {res['wall_s']:.1f} s wall, steal {res['steal_pct']}%, warm-up {res['warm_up']}, "
              f"correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", file=sys.stderr)
    print(f"{a.workload}: {len(runs)} runs, mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s, "
          f"failed share {sorted({r['failed'] / r['attempted'] for r in runs})}, "
          f"warm-up settled in {sum(r['warm_up'] == 'settled' for r in runs)} runs")
    print(f"{'metric':14} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        # "!" marks a spread above a third of the bound, "!!" one above it
        bound = bounds.get(name, 1)
        flag = " !!" if spread > bound else " !" if spread > bound / 3 else ""
        print(f"{name:14} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} {bounds.get(name, 0):6.2f}{flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)


if __name__ == "__main__":
    main()
