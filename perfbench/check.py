"""Answer checks. Each returns None when the answer is right and a short
reason when it is wrong; a wrong answer counts as a failed op."""
import glob
import gzip
import os

# counter (group,name) each MR job must report, keyed by job kind
INVALID_COUNTER = {
    "mr_low": "example,invalid line",
    "mr_high": "example,invalid line",
    "mr_chain": "example,invalid line",
    "mr_sum": "unknown,invalid line - no tab",
}
TRUTH_KEY = {"mr_low": "low", "mr_high": "high", "mr_chain": "chain", "mr_sum": "sum"}


def read_mr_output(path):
    """`key\tvalue` lines of every part file under `path` as a dict."""
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line:
                    continue
                k, v = line.split("\t", 1)
                if k in out:
                    return None  # a key emitted twice is itself wrong
                out[k] = v
    return out


def check_mr(kind, output, counters, truth):
    t = truth[TRUTH_KEY[kind]]
    if output is None:
        return "duplicate key in output"
    want = {k: str(v) for k, v in t["output"].items()}
    if output != want:
        missing = set(want) - set(output)
        extra = set(output) - set(want)
        wrong = [k for k in want if k in output and output[k] != want[k]]
        return "output differs: %d missing, %d extra, %d wrong values" % (
            len(missing), len(extra), len(wrong))
    got = counters.get(INVALID_COUNTER[kind], 0)
    if got != t["invalid"]:
        return "invalid-line counter %d, planted %d" % (got, t["invalid"])
    return None


def check_kept(got, want):
    """Kept id sets must match exactly."""
    if got is None or want is None:
        return "missing answer"
    if sorted(got) != sorted(want):
        g, w = set(got), set(want)
        return "kept set differs: %d missing, %d extra" % (len(w - g), len(g - w))
    return None


def read_ids(path):
    with open(path) as f:
        return [int(x) for x in f.read().split()]
