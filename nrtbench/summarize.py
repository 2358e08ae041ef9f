#!/usr/bin/env python3
"""Summarize benchmark results written by nrtbench/run.py.

    python3 nrtbench/summarize.py [results-dir]

For each workload: the median of every end-to-end metric over the
untraced runs and over the traced runs, and their difference (the
tracing overhead); and, from the traced runs, the layer with the
largest self time.
"""
import collections
import glob
import json
import os
import statistics
import sys


def main():
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(".bench_build", "results")
    runs = collections.defaultdict(list)
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        runs[(r["workload"], r["trace"])].append(r)
    for w in sorted({w for w, _ in runs}):
        plain, traced = runs.get((w, False), []), runs.get((w, True), [])
        print(f"{w}: {len(plain)} untraced, {len(traced)} traced runs")
        names = {k for r in plain + traced for k in r["end_to_end"]}
        for k in sorted(names):
            def med(rs):
                xs = [r["end_to_end"][k]["value"] for r in rs if k in r["end_to_end"]]
                return statistics.median(xs) if xs else None
            a, b = med(plain), med(traced)
            unit = next(r["end_to_end"][k]["unit"] for r in plain + traced if k in r["end_to_end"])
            over = f"{(b - a) / a:+.1%}" if a and b is not None else "n/a"
            print(f"  {k:22s} untraced {a if a is None else round(a, 4)!s:>12} "
                  f"traced {b if b is None else round(b, 4)!s:>12} {unit:7s} overhead {over}")
        largest = collections.Counter(r.get("largest_self_layer", "") for r in traced)
        if largest:
            print("  largest self-time layer:", dict(largest))


if __name__ == "__main__":
    main()
