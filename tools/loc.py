#!/usr/bin/env python3
"""Count code lines in src/main and src/test, per file and in total.

Usage: python3 tools/loc.py [rev]

Without `rev` the working tree is counted; with it, the files as they
are at that git revision. A code line is any line that is not blank and
does not start (after leading whitespace) with `//`, `/*` or `*`.
"""
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")
COMMENT_STARTS = ("//", "/*", "*")


def code_lines(text):
    n = 0
    for line in text.splitlines():
        s = line.strip()
        if s and not s.startswith(COMMENT_STARTS):
            n += 1
    return n


def files_at(repo, rev):
    out = subprocess.run(["git", "-C", repo, "ls-tree", "-r", "--name-only", rev, "--", *ROOTS],
                         check=True, capture_output=True, text=True).stdout
    for path in out.splitlines():
        body = subprocess.run(["git", "-C", repo, "show", f"{rev}:{path}"],
                              check=True, capture_output=True).stdout
        yield path, body.decode("utf-8", errors="replace")


def files_in_tree(repo):
    for root in ROOTS:
        for d, _, names in os.walk(os.path.join(repo, root)):
            for name in names:
                full = os.path.join(d, name)
                with open(full, encoding="utf-8", errors="replace") as f:
                    yield os.path.relpath(full, repo), f.read()


def main(argv):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rev = argv[1] if len(argv) > 1 else None
    files = files_at(repo, rev) if rev else files_in_tree(repo)
    counts = sorted((path, code_lines(text)) for path, text in files)
    totals = {root: 0 for root in ROOTS}
    for path, n in counts:
        print(f"{n:6d}  {path}")
        for root in ROOTS:
            if path.startswith(root + "/"):
                totals[root] += n
    for root in ROOTS:
        print(f"{totals[root]:6d}  {root} total")


if __name__ == "__main__":
    main(sys.argv)
