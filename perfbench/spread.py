#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

Run from the root of a checkout:

    python3 perfbench/spread.py --seeds 101-110 [--workloads a,b] [--trace 0]
        [--out results.json]

For every workload and end-to-end metric it prints the median of the
runs, the first and third quartiles (statistics.quantiles, n=4), and the
spread (Q3 - Q1) / median next to the metric's bound and a third of it.
Every run's result line is kept in --out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--workloads")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for w in workloads:
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                "--trace", a.trace], stdout=subprocess.PIPE, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            detail = {}
            for l in lines:
                if l.startswith("[bench] {"):
                    detail.update(json.loads(l[8:]))
            runs.append({"workload": w, "seed": s, "rc": p.returncode, "wall_s": wall,
                         "result": res, "detail": detail})
            print(f"{w} seed={s} rc={p.returncode} wall={wall:.0f}s "
                  f"correct={res and res['correct']} failed={res and res['failed']}",
                  file=sys.stderr)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    total = sum(r["wall_s"] for r in runs)
    print(f"runs={len(runs)} wall_total={total:.0f}s mean={total / len(runs):.1f}s")
    for w in workloads:
        ok = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        if not ok:
            print(f"{w}: no completed run")
            continue
        for name in ok[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = q3 = vals[0]
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(name)
            mark = "" if b is None else ("ok" if spread < b / 3 else "WIDE" if spread >= b else "over b/3")
            print(f"{w:16s} {name:28s} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
                  f"spread={spread:7.4f} bound={b} {mark}")


if __name__ == "__main__":
    main()
