#!/usr/bin/env python3
"""Compares two sets of untraced benchmark results, metric by metric.

Usage: python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the `*-t0.json` files that perfbench/run.py keeps
under the build directory's perfbench/results. Every run carries an
environment stamp (nproc, heap, shuffle partitions, Spark and JDK
versions); if any two stamps differ the sets are not comparable and the
script exits with code 2. Otherwise it prints, per workload and
end-to-end metric, each side's median and quartiles, the change of the
medians, and whether the change exceeds the metric's bound in
BENCHMARK.json.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    runs = [json.loads(f.read_text()) for f in sorted(Path(d).glob("*-t0.json"))]
    if not runs:
        raise SystemExit(f"no results in {d}")
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    stamps = {json.dumps(r["stamp"], sort_keys=True) for r in base + new}
    if len(stamps) > 1:
        print("refusing to compare runs from different environments:")
        for s in sorted(stamps):
            print("  " + s)
        sys.exit(2)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    regressions = 0
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        print(f"{w}: {sum(r['workload'] == w for r in base)} base runs, "
              f"{sum(r['workload'] == w for r in new)} new runs")
        for spec in bench["end_to_end"]:
            m = spec["name"]
            a = [r["e2e"][m] for r in base if r["workload"] == w]
            b = [r["e2e"][m] for r in new if r["workload"] == w]
            qa, qb = quartiles(a), quartiles(b)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            worse = change if spec["better"] == "lower" else -change
            flag = "WORSE THAN BOUND" if worse > spec["bound"] else ""
            regressions += bool(flag)
            print(f"  {m:18} base {qa[1]:10.3f} [{qa[0]:.3f}, {qa[2]:.3f}]  "
                  f"new {qb[1]:10.3f} [{qb[0]:.3f}, {qb[2]:.3f}]  "
                  f"{change:+7.1%} {spec['unit']} {flag}")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
