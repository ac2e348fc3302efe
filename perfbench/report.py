#!/usr/bin/env python3
"""Print every end-to-end metric of every workload for one seed.

    python3 perfbench/report.py --seed <n> [--workload <name> ...]

Runs each workload of BENCHMARK.json (or the ones named) once, untraced,
for BENCHMARK.json's ``run_seconds``, through ``run.py`` (which runs the
workload's output checks on every pass) and prints one row per
(workload, metric) with its median, unit and sample count, then each
workload's check result. ``failed_ratio`` is the share of passes that
threw or failed a check. Exits non-zero if any run failed or any check
failed.
"""

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LINE = re.compile(r"^\[perfbench\] (\S+) (\S+)\s+median=(\S+) (\S+) \(n=(\d+)\)$")


def run(workload, seed, seconds):
    """Runs one workload; returns (metric rows, result object or None)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    rows = [m.groups()[1:] for m in map(LINE.match, p.stdout.splitlines()) if m]
    result = None
    if p.returncode == 0:
        result = json.loads(p.stdout.splitlines()[-1])
    else:
        sys.stderr.write(p.stderr[-2000:])
    return rows, result


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", action="append", choices=names)
    a = ap.parse_args()

    ok = True
    print(f"{'workload':<14} {'metric':<14} {'median':>14} {'unit':<10} {'n':>3}")
    for w in a.workload or names:
        rows, result = run(w, a.seed, bench["run_seconds"])
        for metric, value, unit, n in rows:
            print(f"{w:<14} {metric:<14} {float(value):>14.4f} {unit:<10} {n:>3}")
        if result is None:
            print(f"{w:<14} checks: run failed")
            ok = False
        else:
            passed = result["correct"] and result["failed"] == 0
            ok &= passed
            print(f"{w:<14} checks: {'pass' if passed else 'FAIL'} "
                  f"({result['attempted'] - result['failed']}/{result['attempted']} passes)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
