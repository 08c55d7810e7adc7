#!/usr/bin/env python3
"""Alternating A/B of the migration benchmark between two checkouts.

    python3 dev/migbench_ab.py PARENT_TREE CHANGE_TREE --pairs 10

For each workload in BENCHMARK.json and each pair i (seed i + 1), runs

    python3 migbench/run.py --workload W --seed S --seconds <run_seconds> --trace 0

once in each tree, one run at a time; the parent goes first in even pairs
and the change first in odd ones. Every run is printed as it finishes.
Then, per workload and end-to-end metric, it prints the two medians, the
parent's quartile spread against the metric's bound, the change's
relative gain (Δ, positive is better), its share of pair wins (ties count
for neither side) and one verdict:

    worse       the change's median is worse than the parent's by more
                than the bound
    better      the change wins at least 9 of 10 pairs and its median
                differs by more than the parent's quartile spread
    unresolved  the parent's own spread is wider than the bound, and not
                every change run beats every parent run
    unchanged   otherwise

BENCHMARK.json is read from CHANGE_TREE; neither tree is modified apart
from the benchmark's own work directory. --json FILE also writes every
run and the summary as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(tree, workload, seed, seconds):
    cmd = [sys.executable, "migbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=1800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        out = {"correct": False, "attempted": 0, "failed": None, "metrics": {},
               "error": p.stderr.strip().splitlines()[-5:]}
    out["rc"] = p.returncode
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(metric, parent, change, pairs):
    """parent/change: values of the successful runs; pairs: (p, c) per pair."""
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    spread = (q3 - q1) / abs(pm) if pm else 0.0
    worse_by = ((cm - pm) if lower else (pm - cm)) / abs(pm) if pm else 0.0
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    share = wins / len(pairs) if pairs else 0.0
    all_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if worse_by > bound:
        word = "worse"
    elif share >= 0.9 and -worse_by * abs(pm) > (q3 - q1):
        word = "better"
    elif spread > bound and not all_better:
        word = "unresolved"
    else:
        word = "unchanged"
    return dict(parent_median=pm, change_median=cm, change_vs_parent=-worse_by,
                parent_iqr=q3 - q1, parent_spread=spread, bound=bound,
                win_share=share, verdict=word)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_tree")
    ap.add_argument("change_tree")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--json", help="also write every run and the summary here")
    a = ap.parse_args()
    trees = {"parent": os.path.abspath(a.parent_tree), "change": os.path.abspath(a.change_tree)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]

    runs = []
    for w in (x["name"] for x in bench["workloads"]):
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_once(trees[side], w, i + 1, seconds)
                r.update(workload=w, pair=i, seed=i + 1, side=side)
                runs.append(r)
                got = {k: v["value"] for k, v in r["metrics"].items()}
                vals = " ".join(f"{m['name']}={got.get(m['name'], float('nan')):.4g}" for m in metrics)
                print(f"run {w} pair={i} seed={i + 1} {side:6s} correct={r['correct']} "
                      f"failed={r['failed']} {vals}", flush=True)
                if r.get("error"):
                    print("  " + "\n  ".join(r["error"]), flush=True)

    summary = []
    print()
    print(f"{'workload':12s} {'metric':16s} {'parent':>10s} {'change':>10s} {'Δ':>7s} "
          f"{'spread':>7s} {'bound':>6s} {'wins':>5s}  verdict")
    for w in (x["name"] for x in bench["workloads"]):
        ok = [r for r in runs if r["workload"] == w and r["correct"]]
        for side in ("parent", "change"):
            mine = [r for r in runs if r["workload"] == w and r["side"] == side]
            print(f"{w} {side}: {len(mine)} runs, {sum(not r['correct'] for r in mine)} incorrect, "
                  f"failed ops {sum(r['failed'] or 0 for r in mine)}")
        for m in metrics:
            def by_pair(side):
                return {r["pair"]: r["metrics"][m["name"]]["value"]
                        for r in ok if r["side"] == side}
            p, c = by_pair("parent"), by_pair("change")
            if not p or not c:
                summary.append(dict(workload=w, metric=m["name"], verdict="unresolved"))
                print(f"{w:12s} {m['name']:16s} no successful runs on one side  unresolved")
                continue
            s = verdict(m, list(p.values()), list(c.values()),
                        [(p[k], c[k]) for k in p if k in c])
            summary.append(dict(workload=w, metric=m["name"], **s))
            print(f"{w:12s} {m['name']:16s} {s['parent_median']:10.4g} {s['change_median']:10.4g} "
                  f"{s['change_vs_parent']:+7.1%} {s['parent_spread']:7.1%} {s['bound']:6.0%} "
                  f"{s['win_share']:5.0%}  {s['verdict']}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
