#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py --base a/summary.json ... --new b/summary.json ...

Each `summary.json` is what `run.py` leaves in its run directory. The
comparison is refused when the two sides were not measured alike: a
different workload, trace mode, core count, Spark session settings, heap
and JVM flags, Spark/Scala/JDK version or workload parameters. Core count matters most:
the same code posts different numbers on 4 and on 32 cores.

For each metric it prints both medians, their quartiles and the change as
a share of the base median.
"""
import argparse
import json
import statistics
import sys

MUST_MATCH = ["workload", "trace", "seconds", "nproc", "cpus", "shuffle_partitions",
              "heap_mb", "jvm_flags", "spark", "scala", "jdk", "time_zone", "params", "queries"]


def load(paths):
    return [json.load(open(p)) for p in paths]


def mismatches(runs):
    """Stamp fields that differ between any two runs."""
    bad = []
    for key in MUST_MATCH:
        values = {json.dumps(r["stamp"].get(key), sort_keys=True) for r in runs}
        if len(values) > 1:
            bad.append(f"{key}: {sorted(values)}")
    return bad


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    bad = mismatches(base + new)
    if bad:
        print("refusing to compare runs measured differently:", file=sys.stderr)
        for b in bad:
            print("  " + b, file=sys.stderr)
        return 2
    names = sorted(set(base[0]["metrics"]) & set(new[0]["metrics"]))
    print(f"{'metric':28s} {'base median':>12s} {'new median':>12s} {'change':>8s}"
          f"   base q1..q3 / new q1..q3")
    for m in names:
        b = [r["metrics"][m] for r in base]
        n = [r["metrics"][m] for r in new]
        mb, mn = statistics.median(b), statistics.median(n)
        change = (mn - mb) / mb if mb else float("nan")
        (b1, b3), (n1, n3) = quartiles(b), quartiles(n)
        print(f"{m:28s} {mb:12.4f} {mn:12.4f} {change:+8.1%}"
              f"   {b1:.4f}..{b3:.4f} / {n1:.4f}..{n3:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
