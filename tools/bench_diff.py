#!/usr/bin/env python3
"""Per-query bench diff between two archived maps.

Usage: bench_diff.py BENCH_HISTORY/r12.json BENCH_HISTORY/r13.json [min_delta]

Prints queries whose best-of-3 time moved by more than `min_delta`
seconds (default 0.15), plus queries present in only one map and each
side's `failed` list (maps written before Bench recorded failures have
none). Host
wall-clock swings up to 3x on this box (BENCH_DELTA.md), so read
deltas against that noise floor, not as exact regressions.
"""
import json
import sys


def load(path):
    d = json.load(open(path))
    return d.get("value"), d.get("queries", d), d.get("failed")


def main():
    a_path, b_path = sys.argv[1], sys.argv[2]
    min_delta = float(sys.argv[3]) if len(sys.argv) > 3 else 0.15
    a_total, a, a_failed = load(a_path)
    b_total, b, b_failed = load(b_path)
    print(f"total: {a_total:.2f} -> {b_total:.2f}  "
          f"({len(a)} -> {len(b)} queries)")
    moved = sorted(((k, a[k], b[k]) for k in a.keys() & b.keys()
                    if abs(b[k] - a[k]) > min_delta),
                   key=lambda t: t[1] - t[2])
    for k, x, y in moved:
        print(f"  {'+' if y > x else '-'} {k}: {x:.2f} -> {y:.2f}")
    for k in sorted(b.keys() - a.keys()):
        print(f"  new {k}: {b[k]:.2f}")
    for k in sorted(a.keys() - b.keys()):
        print(f"  gone {k}: {a[k]:.2f}")
    for side, failed in (("old", a_failed), ("new", b_failed)):
        if failed:
            print(f"  failed ({side}): {', '.join(failed)}")


if __name__ == "__main__":
    main()
