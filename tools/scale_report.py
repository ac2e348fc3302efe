#!/usr/bin/env python3
"""Scale-curve report: read one graft.Bench runs record per multiplier and
print, per query, wall seconds, executor CPU-seconds and jobs at each
multiplier, with the fitted scaling exponents of wall and CPU time
(least-squares slope of log t vs log multiplier).

Each record is the SPARK_GRAFT_BENCH_RUNS_OUT file of a focused Bench run
over scaledata/xM (tools/scale_gen.py); the multiplier is read from the
record's "sf" path (".../x3.16"). A query with several runs reports the
median run.

Usage: python3 tools/scale_report.py scale_x1.json scale_x3.16.json [...]
"""
import json
import math
import re
import sys


def median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2]


def slope(xs, ys):
    n = len(xs)
    if n < 2:
        return float("nan")
    mx, my = sum(xs) / n, sum(ys) / n
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else float("nan")


def load(path):
    rec = json.load(open(path))
    m = re.search(r"x(\d+(?:\.\d+)?)/?$", rec["sf"])
    if not m:
        sys.exit(f"{path}: cannot read a multiplier from sf {rec['sf']!r}")
    return float(m.group(1)), rec


def main(paths):
    points = {}  # query -> {mult: (wall, cpu, jobs)}
    headers = []
    for p in paths:
        mult, rec = load(p)
        headers.append(f"x{mult:g}: cores {rec.get('cores')} (host {rec.get('host_cores')}), "
                       f"broadcast threshold {rec.get('broadcast_threshold')}, "
                       f"shuffle partitions {rec.get('shuffle_partitions')}")
        for q, runs in rec["metrics"].items():
            ok = [r for r in runs if r["wall_s"] >= 0]
            if not ok:
                continue
            walls = [r["wall_s"] for r in ok]
            mid = ok[walls.index(median(walls))]
            points.setdefault(q, {})[mult] = (mid["wall_s"], mid["cpu_s"], mid["jobs"])
    mults = sorted({m for v in points.values() for m in v})
    for h in headers:
        print(h)
    cols = " | ".join(f"x{m:g} wall s / CPU s / jobs" for m in mults)
    print(f"| query | {cols} | wall exp | CPU exp |")
    print("|---|" + "---|" * len(mults) + "---|---|")
    for q in sorted(points):
        pts = points[q]
        cells = " | ".join(
            f"{pts[m][0]:.2f} / {pts[m][1]:.2f} / {pts[m][2]}" if m in pts else "-" for m in mults)
        ms = sorted(m for m in pts if pts[m][0] > 0 and pts[m][1] > 0)
        lm = [math.log10(m) for m in ms]
        a_w = slope(lm, [math.log10(pts[m][0]) for m in ms])
        a_c = slope(lm, [math.log10(pts[m][1]) for m in ms])
        print(f"| {q} | {cells} | {a_w:.2f} | {a_c:.2f} |")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
