#!/usr/bin/env python3
"""Compare the deterministic counters of two traced benchmark runs.

    python3 perfbench/counter_diff.py [--ignore GLOB]... A.json B.json

A and B are trace files a traced run writes (--trace 1), by default
.bench_build/perfbench/traces/<workload>-seed<n>.json. For every
operation key and span name (`key/span`) the run traced, the tool
compares span count, jobs, tasks and input, shuffle and output bytes
exactly. Wall-clock time is not compared: a plan change shows here even
when host weather dominates the timings.

`--ignore` skips counters whose `key/span.counter` name matches the
glob, for a counter known to vary between runs of the same code (a
table whose metadata carries wall-clock values, for instance).

Compare runs of the same workload, seed and --seconds. Exits 0 when
every counter matches, 1 when any differs (each difference is
printed), 2 on unusable input.
"""

import argparse
import fnmatch
import json
import sys


def load(path):
    with open(path) as f:
        trace = json.load(f)
    return (trace["workload"], trace["seed"], trace["seconds"]), trace["counters"]


def main(argv):
    ap = argparse.ArgumentParser(description="Compare the deterministic counters of two traced runs.")
    ap.add_argument("--ignore", action="append", default=[], metavar="GLOB")
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args(argv[1:])
    try:
        (id_a, a), (id_b, b) = load(args.a), load(args.b)
    except (OSError, ValueError, KeyError) as e:
        print(f"counter_diff: {e}", file=sys.stderr)
        return 2
    if id_a != id_b:
        print(f"counter_diff: runs differ in (workload, seed, seconds): {id_a} vs {id_b}",
              file=sys.stderr)
        return 2
    diffs = []
    for span in sorted(set(a) | set(b)):
        ca, cb = a.get(span, {}), b.get(span, {})
        for counter in sorted(set(ca) | set(cb)):
            if any(fnmatch.fnmatch(f"{span}.{counter}", g) for g in args.ignore):
                continue
            va, vb = ca.get(counter), cb.get(counter)
            if va != vb:
                diffs.append(f"{span}.{counter}: {va} -> {vb}")
    for d in diffs:
        print(d)
    n = sum(len(c) for c in a.values())
    print(f"{len(diffs)} of {n} counters differ across {len(a)} operation spans", file=sys.stderr)
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
