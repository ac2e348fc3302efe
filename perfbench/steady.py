#!/usr/bin/env python3
"""Check that the benchmark is steady on one commit.

    python3 perfbench/steady.py [--workload <name> ...]

Runs every workload of BENCHMARK.json (or the ones named) ten times per
set, each time with another seed, for two sets, at BENCHMARK.json's
``run_seconds``. For each end-to-end metric and each workload it reports:

* the spread of each set: the distance between the first and third
  quartiles (``statistics.quantiles(values, n=4)``) as a share of the
  median. It is ``within`` when it is at most the metric's bound, and
  ``steady`` when it is under a third of it;
* the change of the second set's median against the first's, counted in
  the metric's worse direction. It is ``within`` when the median got
  worse by no more than the bound.

It also lists what was dropped from BENCHMARK.json as unsteady or
unfit. The per-run results are written to ``perfbench/work/steady.json``.
Exits non-zero if any pair is outside its bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETS = 2
SEEDS = 10

# What was left out of BENCHMARK.json, and why.
DROPPED = {
    "failed_ratio": "reads 0 on a correct program, and BENCHMARK.json metrics must never be 0; "
                    "run.py and report.py print it",
    "peak_heap_mb": "unsteady: on text_dedup it flips between two modes about 110 MB apart "
                    "(e.g. ~355 and ~463 MB) depending on whether a young GC lands while Spark's "
                    "large memory pages are live; IQR/median 0.29 over ten seeds, above any allowed "
                    "bound; run.py and report.py print it",
    "process_cpu_s": "unsteady: whole-process CPU per pass (JIT, GC and driver threads included) "
                     "spread 0.38 of its median over five seeds, against 0.04 for the executor "
                     "task CPU that cpu_s reports; run.py and report.py print it",
}


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: run failed")
    return json.loads(p.stdout.splitlines()[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med, med


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", choices=names)
    a = ap.parse_args()

    results = {}
    for s in range(SETS):
        for w in a.workload or names:
            for i in range(SEEDS):
                seed = 1000 * (s + 1) + i
                r = run(w, seed, bench["run_seconds"])
                results.setdefault(w, []).append({"set": s, "seed": seed, "result": r})
                vals = ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                print(f"set {s} {w} seed {seed}: correct={r['correct']} {vals}", flush=True)
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    with open(os.path.join(HERE, "work", "steady.json"), "w") as f:
        json.dump(results, f, indent=1)

    ok = True
    print(f"\n{'workload':<14} {'metric':<13} {'bound':>5}  spreads per set (IQR/median)   median change")
    for w, runs in results.items():
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            sets = [[r["result"]["metrics"][name]["value"] for r in runs if r["set"] == s]
                    for s in range(SETS)]
            cells, meds = [], []
            for vals in sets:
                sp, med = spread(vals)
                meds.append(med)
                verdict = "steady" if sp < bound / 3 else "within" if sp <= bound else "OUTSIDE"
                ok &= verdict != "OUTSIDE"
                cells.append(f"{sp:.3f} {verdict}")
            worse = (meds[1] - meds[0]) / meds[0] * (1 if lower else -1)
            verdict = "within" if worse <= bound else "OUTSIDE"
            ok &= verdict != "OUTSIDE"
            print(f"{w:<14} {name:<13} {bound:>5}  {'; '.join(cells):<30} {worse:+.3f} {verdict}")
    print("\ndropped from BENCHMARK.json:")
    for k, v in DROPPED.items():
        print(f"  {k}: {v}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
