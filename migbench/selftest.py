#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 migbench/selftest.py

1. Seeds: the same seed gives identical source fingerprints, another seed
   different ones (both workloads).
2. Result line: a normal run's last stdout line parses with json.loads and
   has exactly correct/attempted/failed/metrics, every metric of
   BENCHMARK.json for the trace mode, with its unit.
3. Output gate: a run whose target is damaged after the migration (one
   row's value changed; one row replaced by a copy of another) must exit
   non-zero and report correct: false.
4. No program: in a directory holding only BENCHMARK.json and the
   benchmark's files, the command exits non-zero without a result line.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

FAILURES = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def bench(args, cwd=ROOT):
    return subprocess.run([sys.executable, "migbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def last_line(stdout):
    lines = stdout.splitlines()
    return json.loads(lines[-1]) if lines else None


def fingerprints(workload, seed):
    cp = run.build()
    p = subprocess.run(["java", "-Xmx2g", "-Duser.timezone=UTC", "-cp", cp,
                        "migbench.Fingerprint", workload, str(seed)],
                       capture_output=True, text=True, check=True)
    return json.loads(p.stdout.splitlines()[-1])


def test_seeds():
    os.makedirs(run.WORK, exist_ok=True)
    for w in run.WORKLOADS:
        a, b, c = fingerprints(w, 7), fingerprints(w, 7), fingerprints(w, 8)
        check(a == b, f"{w}: same seed, same fingerprints")
        check(a != c, f"{w}: another seed, other fingerprints")


def test_result_line(b):
    for trace, listed in ((0, b["end_to_end"]), (1, b["per_layer"])):
        p = bench(["--workload", "many_tables", "--seed", "3", "--seconds", "1",
                   "--trace", str(trace)])
        res = last_line(p.stdout)
        check(p.returncode == 0 and res is not None, f"trace {trace}: exit 0 with a result")
        if res is None:
            continue
        check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"trace {trace}: keys")
        check(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
              f"trace {trace}: correct, nothing failed")
        want = {m["name"]: m["unit"] for m in listed}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        check(got == want, f"trace {trace}: metric names and units match BENCHMARK.json")
        check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
              f"trace {trace}: numeric values")


def test_gate():
    for fault in ("corrupt_row", "swap_row"):
        p = bench(["--workload", "bulk_copy", "--seed", "4", "--seconds", "1", "--fault", fault])
        res = last_line(p.stdout)
        check(p.returncode != 0 and res is not None and res["correct"] is False,
              f"damaged target ({fault}) fails the output check")


def test_no_program():
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    # the files git would commit under the benchmark's path, nothing else
    shutil.copytree(HERE, os.path.join(bare, "migbench"), ignore=lambda d, names: [
        n for n in names if n in ("work", "target", "__pycache__")
        or (n == "project" and os.path.basename(d) == "project")])
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = bench(["--workload", "bulk_copy", "--seed", "1", "--seconds", "15", "--trace", "0"], cwd=bare)
    check(p.returncode != 0 and not p.stdout.strip(), "no program sources: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    test_no_program()
    test_seeds()
    test_result_line(b)
    test_gate()
    print(f"\n{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
