#!/usr/bin/env python3
"""Compare the DuckDB oracle text of two Verify runs per query name.

Usage: python3 tools/oracle_diff.py <a/oracle_sql.json> <b/oracle_sql.json>

Reads two `oracle_sql.json` files written by `graft.Verify` (one JSON
object, query name -> oracle SQL). Oracle text does not depend on the
scale factor or the host, so two runs of code that must not move an
oracle repeat every string byte for byte. Prints each query whose
oracle differs, and each one present on one side only, and exits 1 if
there is any; otherwise prints how many oracles matched and exits 0.
"""
import json
import sys


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv[1:3])
    changed = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
    missing = sorted(a.keys() ^ b.keys())
    for k in changed:
        print("changed: %s" % k)
    for k in missing:
        print("missing: %s (only in %s)" % (k, argv[1] if k in a else argv[2]))
    if changed or missing:
        print("%d changed, %d missing of %d" % (len(changed), len(missing), len(a.keys() | b.keys())))
        return 1
    print("%d oracles identical" % len(a))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
