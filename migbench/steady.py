#!/usr/bin/env python3
"""Steadiness, A/A and traced-run evidence for the migration benchmark.

    python3 migbench/steady.py --runs 10                 # one set per workload
    python3 migbench/steady.py --runs 10 --sets 2        # A/A: two sets, same code
    python3 migbench/steady.py --traced                  # per-layer artifact

Each run is `run.py --workload W --seed S --seconds <run_seconds>` with a
new seed per run. For every end-to-end metric of BENCHMARK.json the script
reports the median, the quartiles (statistics.quantiles, n=4) and the
spread (Q3 - Q1) / median, against the metric's bound and a third of it.
With --sets 2 it also reports how far the second set's median is from the
first, against the bound. setup_s's spread is reported but not judged.

--traced runs each workload once untraced and once traced on the same seed
and writes every per-layer metric plus the tracing overhead (traced over
untraced migrate_s) to --out (default migbench/results/traced.json).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_ticks():
    """(busy, steal, total) CPU ticks of the whole box, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0, 0
    return sum(v[:3]) + sum(v[5:7]), v[7], sum(v)


def run_once(workload, seed, seconds, trace):
    """One run; returns its parsed last stdout line (strict rule)."""
    t0 = time.time()
    c0 = cpu_ticks()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed (rc {p.returncode}):\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit(f"{workload} seed {seed}: output check failed")
    with open(os.path.join(HERE, "work", "run", "result.json")) as f:
        each = [round(m["migrateS"], 2) for m in json.load(f)["per_migration"]]
    # the share of the box's CPU time taken by the hypervisor (steal) and
    # in use, over the run: a run slowed by neighbours shows here
    c1 = cpu_ticks()
    total = max(1, c1[2] - c0[2])
    print(f"  {workload} seed={seed} trace={trace} wall={time.time() - t0:.0f}s "
          f"busy={(c1[0] - c0[0]) / total:.2f} steal={(c1[1] - c0[1]) / total:.3f} "
          f"migrate_s each: {each}", file=sys.stderr)
    return res


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def steady(b, runs, sets, seed0, only):
    report = {}
    ok = True
    for w in b["workloads"]:
        name = w["name"]
        if only and name not in only:
            continue
        per_set = []
        for s in range(sets):
            seeds = [seed0 + 1000 * s + i for i in range(runs)]
            res = [run_once(name, seed, b["run_seconds"], 0) for seed in seeds]
            per_set.append({m["name"]: summarize([r["metrics"][m["name"]]["value"] for r in res])
                            for m in b["end_to_end"]})
        report[name] = per_set
        print(f"\n{name}: {runs} runs x {sets} set(s)")
        print(f"  {'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>8}{'bound':>7}"
              + ("  A/A drift" if sets == 2 else ""))
        for m in b["end_to_end"]:
            k, bound = m["name"], m["bound"]
            st = per_set[0][k]
            judged = k != "setup_s"
            flag = ""
            if judged and st["spread"] > bound:
                flag, ok = " OVER BOUND", False
            elif judged and st["spread"] > bound / 3:
                flag = " over bound/3"
            drift = ""
            if sets == 2:
                a, c = per_set[0][k]["median"], per_set[1][k]["median"]
                worse = (c - a) / a if m["better"] == "lower" else (a - c) / a
                drift = f"  {worse:+.3f}"
                if worse > bound:
                    drift, ok = drift + " OVER BOUND", False
            print(f"  {k:<18}{st['median']:>12.4g}{st['q1']:>12.4g}{st['q3']:>12.4g}"
                  f"{st['spread']:>8.3f}{bound:>7.2f}{drift}{flag}")
    return report, ok


def traced(b, seed, out):
    art = {"seed": seed, "run_seconds": b["run_seconds"], "workloads": {}}
    for w in b["workloads"]:
        name = w["name"]
        plain = run_once(name, seed, b["run_seconds"], 0)["metrics"]
        layers = run_once(name, seed, b["run_seconds"], 1)["metrics"]
        untraced, with_trace = plain["migrate_s"]["value"], layers["trace.migrate_s"]["value"]
        art["workloads"][name] = {
            "tracing_overhead": {"migrate_s_untraced": untraced, "migrate_s_traced": with_trace,
                                 "ratio": with_trace / untraced},
            "end_to_end": plain, "per_layer": layers}
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(art, f, indent=1)
        f.write("\n")
    print(f"wrote {out}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--workload", action="append", help="only these workloads")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    b = bench()
    if a.traced:
        traced(b, a.seed, a.out or os.path.join(HERE, "results", "traced.json"))
        return 0
    report, ok = steady(b, a.runs, a.sets, a.seed, a.workload)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
