#!/usr/bin/env python3
"""Summarize a tools/nrt_ab.sh run.

    python3 tools/nrt_ab_summarize.py <out-dir> <BENCHMARK.json> [parent-label] [change-label]

<out-dir> holds one `<side>-<workload>-s<seed>.log` per untraced run
and one `<side>-<workload>-s<seed>-t1.log` per traced run (side is
`parent` or `change`; the last line starting with `{` is the result
JSON nrtbench/run.py prints) and its exit status in `.rc`. For each
workload and end-to-end metric it prints both medians over the untraced
runs, the parent's IQR, how many seed pairs the change won (ties count
for neither), and a verdict: `worse` when the change's median is worse
than the parent's by more than the metric's bound (a fraction of the
parent's median), `unresolved` when the parent's own IQR is wider than
that bound and not every change run beats every parent run, else `ok`.
Then, for every per-layer metric with unit `count`, both sides' medians
over the traced runs, read from the full result files each side's clone
keeps in `<out-dir>/../<side>/.bench_build/results/<workload>-s<seed>-t1.json`.
Counts do not drift with machine load, so these compare exactly. Runs
that failed or checked wrong are listed, with each side's error rate
(failed over attempted operations, summed over its untraced runs).
"""
import collections
import glob
import json
import os
import re
import statistics
import sys


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def value(result, metric):
    m = result["metrics"].get(metric)
    return m["value"] if isinstance(m, dict) else m


def load(out_dir):
    runs = collections.defaultdict(dict)  # (side, workload) -> seed -> untraced result
    traced = collections.defaultdict(dict)  # (side, workload) -> seed -> per-layer metrics
    bad = []
    for log in sorted(glob.glob(os.path.join(out_dir, "*.log"))):
        m = re.fullmatch(r"(parent|change)-(.+)-s(\d+)(-t1)?\.log", os.path.basename(log))
        if not m:
            continue
        side, w, seed, t1 = m.group(1), m.group(2), int(m.group(3)), bool(m.group(4))
        with open(log) as fh:
            lines = [l for l in fh if l.startswith("{")]
        rc_file = log[:-len(".log")] + ".rc"
        rc = int(open(rc_file).read().strip()) if os.path.exists(rc_file) else None
        if rc != 0 or not lines:
            bad.append(f"{side} {w} seed {seed}{' traced' if t1 else ''}: exit {rc}, "
                       f"{'no result' if not lines else 'checks failed'}")
        if not t1 and lines:
            runs[(side, w)][seed] = json.loads(lines[-1])
        full = os.path.join(os.path.dirname(os.path.abspath(out_dir)), side,
                            ".bench_build", "results", f"{w}-s{seed}-t1.json")
        if t1 and os.path.exists(full):
            with open(full) as fh:
                traced[(side, w)][seed] = json.load(fh)["per_layer"]
    return runs, traced, bad


def print_counts(par, chg):
    """Both sides' medians of every per-layer `count` metric."""
    seeds = sorted(set(par) & set(chg))
    if not seeds:
        print("  traced: no pairs")
        return
    names = sorted({k for rs in (par, chg) for s in seeds for k, m in rs[s].items()
                    if m.get("unit") == "count"})
    print(f"  traced per-layer counts, {len(seeds)} pairs (seeds {seeds[0]}..{seeds[-1]}):")
    print(f"  {'metric':34s} {'parent med':>11s} {'change med':>11s}")
    for k in names:
        meds = [statistics.median(rs[s][k]["value"] for s in seeds if k in rs[s])
                if any(k in rs[s] for s in seeds) else float("nan") for rs in (par, chg)]
        mark = "" if meds[0] == meds[1] else "  *"
        print(f"  {k:34s} {meds[0]:11.3f} {meds[1]:11.3f}{mark}")


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, bench = sys.argv[1], sys.argv[2]
    labels = {"parent": sys.argv[3] if len(sys.argv) > 3 else "parent",
              "change": sys.argv[4] if len(sys.argv) > 4 else "change"}
    with open(bench) as fh:
        spec = json.load(fh)
    runs, traced, bad = load(out_dir)
    print(f"nrtbench A/B: parent {labels['parent']} vs change {labels['change']}")
    for w in [x["name"] for x in spec["workloads"]]:
        par, chg = runs.get(("parent", w), {}), runs.get(("change", w), {})
        seeds = sorted(set(par) & set(chg))
        print(f"\n{w}: {len(seeds)} pairs (seeds {seeds[0] if seeds else '-'}..{seeds[-1] if seeds else '-'})")
        for side, rs in (("parent", par), ("change", chg)):
            att = sum(r.get("attempted", 0) for r in rs.values())
            failed = sum(r.get("failed", 0) for r in rs.values())
            wrong = sum(1 for r in rs.values() if not r.get("correct", False))
            rate = failed / att if att else float("nan")
            print(f"  {side:6s} error_rate {rate:.4f} ({failed}/{att} ops), runs checked wrong: {wrong}")
        print(f"  {'metric':14s} {'parent med':>11s} {'parent IQR':>11s} {'change med':>11s} "
              f"{'delta':>8s} {'bound':>6s} {'wins':>6s}  verdict")
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            pairs = [(value(par[s], name), value(chg[s], name)) for s in seeds]
            pairs = [(a, b) for a, b in pairs if a is not None and b is not None]
            if not pairs:
                print(f"  {name:14s} no samples")
                continue
            pa, ch = [a for a, _ in pairs], [b for _, b in pairs]
            pm, cm = statistics.median(pa), statistics.median(ch)
            q1, q3 = quartiles(sorted(pa))
            wins = sum(1 for a, b in pairs if (b < a if lower else b > a))
            rel = (cm - pm) / abs(pm) if pm else 0.0  # the change's median vs the parent's
            all_better = (max(ch) < min(pa)) if lower else (min(ch) > max(pa))
            if (rel if lower else -rel) > bound:
                verdict = "worse"
            elif pm and (q3 - q1) / abs(pm) > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "ok"
            print(f"  {name:14s} {pm:11.4f} {q3 - q1:11.4f} {cm:11.4f} "
                  f"{rel:+8.1%} {bound:6.2f} {wins:>3d}/{len(pairs):<2d}  {verdict}")
        print_counts(traced.get(("parent", w), {}), traced.get(("change", w), {}))
    if bad:
        print("\nruns that failed or checked wrong:")
        for b in bad:
            print("  " + b)


if __name__ == "__main__":
    main()
