#!/usr/bin/env python3
"""Compares benchmark runs of a change with runs of its parent.

    python3 perfbench/compare.py --parent DIR_OR_FILES... --change DIR_OR_FILES...

Each argument is a run summary written by run.py (*.summary.json, kept in
.bench_build/results/) or a directory of them. For each workload and
end-to-end metric of BENCHMARK.json it prints both sides' median and
quartiles, the share of run pairs the change won (runs paired in the
order they were made), and a verdict: improved, within bound, worse or
unresolved (see stats.verdict). Traced runs (--trace 1) add the
per-layer counters whose medians moved by more than the parent's own
spread.
"""

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def load(paths):
    """Run summaries by (workload, trace), oldest first."""
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.summary.json"))) if os.path.isdir(p) else [p]
    runs = {}
    for f in files:
        with open(f) as fh:
            s = json.load(fh)
        runs.setdefault((s["workload"], s["trace"]), []).append(s)
    for v in runs.values():
        v.sort(key=lambda s: s["time_ms"])
    return runs


def moved_layers(parent, change):
    """Per-layer counters whose medians moved beyond the parent's spread."""
    out = []
    for name in sorted(parent[0]["shown"]):
        p = [r["shown"][name] for r in parent if name in r["shown"]]
        c = [r["shown"][name] for r in change if name in r["shown"]]
        if not p or not c:
            continue
        p_q1, p_med, p_q3 = stats.quartiles(p)
        c_med = statistics.median(c)
        if abs(c_med - p_med) > max(p_q3 - p_q1, 0.05 * abs(p_med)) and c_med != p_med:
            out.append((name, p_med, c_med))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(args.parent), load(args.change)
    for wl in [w["name"] for w in bench["workloads"]]:
        p_runs, c_runs = parent.get((wl, 0), []), change.get((wl, 0), [])
        if p_runs and c_runs:
            print(f"{wl}: {len(p_runs)} parent runs, {len(c_runs)} change runs")
            for m in bench["end_to_end"]:
                p = [r["metrics"][m["name"]] for r in p_runs]
                c = [r["metrics"][m["name"]] for r in c_runs]
                pq, cq = stats.quartiles(p), stats.quartiles(c)
                print(f"  {m['name']:<18} parent {pq[1]:.6g} [{pq[0]:.6g}, {pq[2]:.6g}]  "
                      f"change {cq[1]:.6g} [{cq[0]:.6g}, {cq[2]:.6g}] {m['unit']}  "
                      f"pairs won {stats.pairs_won(p, c, m['better']):.0%}  "
                      f"{stats.verdict(p, c, m['better'], m['bound'])}")
        p_tr, c_tr = parent.get((wl, 1), []), change.get((wl, 1), [])
        if p_tr and c_tr:
            moved = moved_layers(p_tr, c_tr)
            print(f"  per-layer counters that moved ({len(p_tr)} vs {len(c_tr)} traced runs):" +
                  ("" if moved else " none"))
            for name, a, b in moved:
                print(f"    {name:<36} {a:.6g} -> {b:.6g}")


if __name__ == "__main__":
    main()
