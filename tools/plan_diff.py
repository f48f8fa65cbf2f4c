#!/usr/bin/env python3
"""Compare two sets of plan dumps (`graft.tools.Measure explain`) per query id.

Usage: python3 tools/plan_diff.py <dirA> <sfxA> <dirB> <sfxB>

Reads `<dirA>/<id>_<sfxA>.txt` and `<dirB>/<id>_<sfxB>.txt`. Before
comparing, it rewrites what changes on every run without being plan:
expression ids (`#123`), lambda variable names (`lambda x_12`: a
JVM-wide counter, so they shift with whatever ran earlier in the JVM),
JVM lambda class names (`$$Lambda$6429/0x…`, likewise), object identity
hashes (`ExactSumAgg@5bcaea6a`),
`plan_id=N`, RDD ids (`RDD[N]`), index temp dirs
(`/tmp/graft-<kind><digits>`) and the catalog table names derived from
them (`graft_<kind>_<hex>`, a 64-bit hash printed in up to 16 hex
digits). Prints `<id>: identical` or a unified diff per query id, and
exits 1 if any query differs or has a dump on one side only.
"""
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b(lambda [a-z]+)_\d+"), r"\1_N"),
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+"), "$$Lambda$N"),
    (re.compile(r"([\w$]+)@[0-9a-f]{4,8}\b"), r"\1@H"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"/tmp/graft-([a-z-]+)\d+"), r"/tmp/graft-\1N"),
    (re.compile(r"\b(graft_[a-z_]+)_[0-9a-f]{1,16}\b"), r"\1_H"),
]


def normalize(text):
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text


def dumps(directory, suffix):
    tail = "_%s.txt" % suffix
    return {name[:-len(tail)]: os.path.join(directory, name)
            for name in os.listdir(directory) if name.endswith(tail)}


def read(path):
    with open(path, encoding="utf-8") as f:
        return normalize(f.read()).splitlines(keepends=True)


def main(argv):
    if len(argv) != 4:
        sys.exit(__doc__.strip().splitlines()[2])
    dir_a, sfx_a, dir_b, sfx_b = argv
    a, b = dumps(dir_a, sfx_a), dumps(dir_b, sfx_b)
    differ = 0
    for qid in sorted(a.keys() | b.keys()):
        if qid not in a or qid not in b:
            print("%s: only in %s" % (qid, a.get(qid) or b.get(qid)))
            differ += 1
            continue
        diff = list(difflib.unified_diff(read(a[qid]), read(b[qid]), a[qid], b[qid]))
        if diff:
            differ += 1
            print("%s: differs" % qid)
            sys.stdout.writelines(diff)
        else:
            print("%s: identical" % qid)
    print("%d identical, %d differ" % (len(a.keys() | b.keys()) - differ, differ))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
