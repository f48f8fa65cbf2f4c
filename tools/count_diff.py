#!/usr/bin/env python3
"""Compare the count metrics of two perfbench layer files.

Usage: python3 tools/count_diff.py <layersA.json> <layersB.json>

Reads two `perfbench/run.py --trace 1` artifacts
(`{"layers": {name: {"value": v, "unit": u}}}`, written to
`.perfbench/out/layers-<workload>-seed<N>.json`) and compares every
metric whose unit is `count` (jobs per op kind, files written,
checkpointed RDDs, candidate and verified pairs, resolve rounds, ...).
Counts do not depend on the host, so two traced runs of one seed must
repeat them exactly. Prints each count that differs, or is present on
one side only, and exits 1 if there is any; otherwise prints how many
counts matched and exits 0.
"""
import json
import sys


def counts(path):
    layers = json.load(open(path))["layers"]
    return {k: v.get("value") for k, v in layers.items() if v.get("unit") == "count"}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = counts(argv[1]), counts(argv[2])
    diff = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
    for k in diff:
        print("%s: %s -> %s" % (k, a.get(k, "-"), b.get(k, "-")))
    if diff:
        print("%d of %d counts differ" % (len(diff), len(a.keys() | b.keys())))
        return 1
    print("%d counts identical" % len(a))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
