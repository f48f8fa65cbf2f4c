"""Seeded input generator with ground truth.

Every input the benchmark feeds the program comes from here, and the same
seed always yields byte-identical files. The generator also records the
ground truth the checkers need (exact MR outputs and counters) and the
measured share of each property that drives the program's behaviour.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COMBINER_CAPACITY = 4096  # graft.mr.MrPipeline.DefaultCombinerCapacity
DIM = 128


class Sizes:
    """Input sizes per workload. Small enough that one round of a
    workload's op mix takes a few seconds on 4 cores."""

    mr_low_lines = 80_000
    mr_low_keys = 24
    mr_high_lines = 80_000
    mr_high_keys = 30_000
    mr_kv_lines = 80_000
    mr_kv_keys = 2_000
    bad_share = 0.001

    lc_base = 500
    lc_delta = 25
    lc_cycles = 4
    lc_deletes = 6
    text_cap = 8


def _words(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=n)
    out, seen = [], set()
    for ln in lens:
        while True:
            w = "".join(rng.choice(letters, size=ln))
            if w not in seen:
                seen.add(w)
                out.append(w)
                break
    return out


# ---------------------------------------------------------------- MR inputs


def _json_lines(rng, n_lines, vocab, min_k, max_k, bad_share):
    """JSON-object lines whose top-level keys come from `vocab`; about
    `bad_share` of the lines are malformed. Returns (lines, key counts,
    number of malformed lines)."""
    v = len(vocab)
    nk = rng.integers(min_k, max_k + 1, size=n_lines)
    bad = rng.random(n_lines) < bad_share
    vals = rng.integers(0, 1000, size=n_lines)
    # distinct keys per line: base + j * step (mod v) with j * step < v
    base = rng.integers(0, v, size=n_lines)
    step = rng.integers(1, v // max_k + 1, size=n_lines)
    keys = (base[:, None] + np.arange(max_k)[None, :] * step[:, None]) % v
    used = (np.arange(max_k)[None, :] < nk[:, None]) & ~bad[:, None]
    counts = np.bincount(keys[used], minlength=v).astype(np.int64)
    quoted = ['"%s": ' % w for w in vocab]
    lines = []
    for i in range(n_lines):
        if bad[i]:
            # truncated object: not valid JSON
            lines.append('{%s%d, "x' % (quoted[0], vals[i]))
        else:
            lines.append("{" + ", ".join(quoted[k] + str(vals[i] + j)
                                         for j, k in enumerate(keys[i, :nk[i]])) + "}")
    return lines, counts, int(bad.sum())


def gen_mr(rng, d, sz):
    os.makedirs(os.path.join(d, "mr"), exist_ok=True)
    truth = {}
    low_vocab = ["f%02d" % i for i in range(sz.mr_low_keys)]
    lines, counts, bad = _json_lines(rng, sz.mr_low_lines, low_vocab, 3, 6, sz.bad_share)
    _write_lines(os.path.join(d, "mr", "low.jsonl"), lines)
    truth["low"] = _field_freq_truth(low_vocab, counts, sz.mr_low_lines - bad, bad)

    high_vocab = ["u%05d" % i for i in range(sz.mr_high_keys)]
    lines, counts, bad = _json_lines(rng, sz.mr_high_lines, high_vocab, 2, 4, sz.bad_share)
    _write_lines(os.path.join(d, "mr", "high.jsonl"), lines)
    truth["high"] = _field_freq_truth(high_vocab, counts, sz.mr_high_lines - bad, bad)
    hist = {}
    for v in truth["high"]["output"].values():
        hist[str(v)] = hist.get(str(v), 0) + 1
    truth["chain"] = {"output": hist, "invalid": bad}

    keys = rng.integers(0, sz.mr_kv_keys, size=sz.mr_kv_lines)
    vals = rng.integers(-50, 1000, size=sz.mr_kv_lines)
    notab = rng.random(sz.mr_kv_lines) < sz.bad_share
    names = ['"k%04d"' % k for k in range(sz.mr_kv_keys)]
    ok = ~notab
    per_key = np.bincount(keys[ok], weights=vals[ok], minlength=sz.mr_kv_keys)
    present = np.bincount(keys[ok], minlength=sz.mr_kv_keys) > 0
    sums = {names[k]: int(round(per_key[k])) for k in np.flatnonzero(present)}
    lines = [names[k] + (" " if nt else "\t") + str(v)
             for k, v, nt in zip(keys.tolist(), vals.tolist(), notab.tolist())]
    _write_lines(os.path.join(d, "mr", "kv.tsv"), lines)
    truth["sum"] = {"output": sums, "invalid": int(notab.sum())}

    props = {
        "low_keys": len(low_vocab) + 1,
        "high_keys": int((counts > 0).sum()) + 1,
        "kv_keys": len(sums),
        "combiner_capacity": COMBINER_CAPACITY,
        "low_keys_per_capacity": (len(low_vocab) + 1) / COMBINER_CAPACITY,
        "high_keys_per_capacity": (int((counts > 0).sum()) + 1) / COMBINER_CAPACITY,
        "malformed_share": (truth["low"]["invalid"] + truth["high"]["invalid"]
                            + truth["sum"]["invalid"])
        / (sz.mr_low_lines + sz.mr_high_lines + sz.mr_kv_lines),
    }
    return truth, props


def _field_freq_truth(vocab, counts, valid, bad):
    out = {'"%s"' % w: int(c) for w, c in zip(vocab, counts) if c > 0}
    out['"lines_read"'] = int(valid)
    return {"output": out, "invalid": bad}


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


# ------------------------------------------------------------ text corpora


def _texts(rng, words, n, mega):
    """n documents: random word sequences plus planted exact duplicates,
    near-duplicate families (one or two word substitutions) and one
    boilerplate mega-cluster of `mega` documents that differ in their last
    word only. Returns (texts, kind per doc)."""
    nw = len(words)
    texts, kinds = [], []
    template = " ".join(words[i] for i in rng.integers(0, nw, size=90))
    for j in range(mega):
        texts.append(template + " " + words[int(rng.integers(0, nw))] + " end%d" % j)
        kinds.append("mega")
    while len(texts) < n:
        r = rng.random()
        ln = int(rng.integers(40, 120))
        base = [words[i] for i in rng.integers(0, nw, size=ln)]
        texts.append(" ".join(base))
        kinds.append("unique")
        if r < 0.06 and len(texts) < n:
            texts.append(" ".join(base))
            kinds.append("exact")
        elif r < 0.14:
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) >= n:
                    break
                v = list(base)
                for _ in range(int(rng.integers(1, 3))):
                    v[int(rng.integers(0, ln))] = words[int(rng.integers(0, nw))]
                texts.append(" ".join(v))
                kinds.append("near")
    return texts, kinds


def _vectors(rng, n, mega):
    """n unit-ish vectors: Gaussian noise, near-duplicate families around
    shared directions, and a mega-cluster of `mega` vectors around one
    direction."""
    out = np.empty((n, DIM), dtype=np.float32)
    kinds = []
    centre = rng.normal(size=DIM)
    i = 0
    for _ in range(mega):
        out[i] = centre + 0.15 * rng.normal(size=DIM)
        kinds.append("mega")
        i += 1
    while i < n:
        base = rng.normal(size=DIM)
        out[i] = base
        kinds.append("unique")
        i += 1
        if rng.random() < 0.12:
            for _ in range(int(rng.integers(1, 4))):
                if i >= n:
                    break
                out[i] = base + 0.2 * rng.normal(size=DIM)
                kinds.append("near")
                i += 1
    out /= np.linalg.norm(out, axis=1, keepdims=True) * 4.0
    return out, kinds


def _write_docs(path, ids, texts, extra=None):
    cols = {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array(["src%d" % (i % 7) for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    cols.update(extra or {})
    pq.write_table(pa.table(cols), path)


def _write_vecs(path, ids, vecs, extra=None):
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array((ids % 5).astype(np.int32), pa.int32()),
    }
    cols.update(extra or {})
    pq.write_table(pa.table(cols), path)


def _dup_props(kinds, prefix):
    n = len(kinds)
    return {
        prefix + "docs": n,
        prefix + "exact_share": kinds.count("exact") / n,
        prefix + "near_share": kinds.count("near") / n,
        prefix + "mega_cluster": kinds.count("mega"),
    }


def _epochs(rng, n, base, cycles, delta):
    """Arrival epoch per item: `base` items at epoch 0, then `delta` items
    at each epoch 1..cycles, in a random order so every delta carries
    duplicates of earlier items."""
    ep = np.concatenate([np.zeros(base, np.int32)] +
                        [np.full(delta, c, np.int32) for c in range(1, cycles + 1)])
    assert len(ep) == n
    return rng.permutation(ep)


def _deletes(rng, epochs, kinds, cycles, per_cycle):
    """Ids to take down in each cycle c: items that arrived by epoch c,
    half of them members of planted clusters (so a takedown can split a
    component), never the same id twice."""
    dead = set()
    plan = []
    clustered = np.array([k != "unique" for k in kinds])
    for c in range(1, cycles + 1):
        pool = np.flatnonzero(epochs <= c)
        pool = np.array([i for i in pool if i not in dead])
        want = [i for i in pool if clustered[i]]
        rest = [i for i in pool if not clustered[i]]
        pick = list(rng.choice(want, size=min(per_cycle // 2, len(want)), replace=False))
        pick += list(rng.choice(rest, size=per_cycle - len(pick), replace=False))
        dead.update(pick)
        plan.append(sorted(int(i) for i in pick))
    return plan


def gen_lifecycle(rng, d, sz, words):
    os.makedirs(os.path.join(d, "lifecycle"), exist_ok=True)
    n = sz.lc_base + sz.lc_cycles * sz.lc_delta
    texts, kinds = _texts(rng, words, n, mega=3 * sz.text_cap)
    ep = _epochs(rng, n, sz.lc_base, sz.lc_cycles, sz.lc_delta)
    # ids are positions, so the delete plan can name them directly
    ids = np.arange(n, dtype=np.int64)
    _write_docs(os.path.join(d, "lifecycle", "documents.parquet"), ids, texts,
                {"epoch": pa.array(ep, pa.int32())})
    tdel = _deletes(rng, ep, kinds, sz.lc_cycles, sz.lc_deletes)

    nv = sz.lc_base + sz.lc_cycles * sz.lc_delta
    # the semantic index's cap: IncrementalSemantic.semLedgerCap at 4 bits
    vcap = max(1, int(0.75 * nv / 16))
    vecs, vkinds = _vectors(rng, nv, mega=2 * vcap)
    vep = _epochs(rng, nv, sz.lc_base, sz.lc_cycles, sz.lc_delta)
    vids = np.arange(nv, dtype=np.int64)
    _write_vecs(os.path.join(d, "lifecycle", "embeddings.parquet"), vids, vecs,
                {"epoch": pa.array(vep, pa.int32())})
    vdel = _deletes(rng, vep, vkinds, sz.lc_cycles, sz.lc_deletes)

    tb = np.zeros(sz.lc_cycles + 1, np.int64)
    np.add.at(tb, ep, [len(t.encode()) for t in texts])
    vb = np.bincount(vep, minlength=sz.lc_cycles + 1) * DIM * 4
    props = _dup_props(kinds, "lc_text_")
    props.update(_dup_props(vkinds, "lc_vec_"))
    props.update({
        "lc_text_cap": sz.text_cap,
        "lc_text_mega_over_cap": kinds.count("mega") / sz.text_cap,
        "lc_vec_cap": vcap,
        "lc_vec_mega_over_cap": vkinds.count("mega") / vcap,
        "delta_base_ratio": sz.lc_delta / sz.lc_base,
        "deletes_per_cycle": sz.lc_deletes,
    })
    plan = {"cycles": sz.lc_cycles, "text_cap": sz.text_cap,
            "base": sz.lc_base, "delta": sz.lc_delta,
            "text_deletes": tdel, "vec_deletes": vdel,
            "text_bytes_by_epoch": tb.tolist(), "vec_bytes_by_epoch": vb.tolist()}
    return plan, props


def generate(seed, d, workload):
    """Write the inputs of `workload` under `d`; returns the manifest."""
    sz = Sizes()
    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)
    man = {"seed": seed, "workload": workload}
    if workload == "mr_jobs":
        truth, props = gen_mr(rng, d, sz)
        with open(os.path.join(d, "mr_truth.json"), "w") as f:
            json.dump(truth, f)
        man["props"] = props
        man["bytes"] = {k: os.path.getsize(os.path.join(d, "mr", f)) for k, f in
                        (("low", "low.jsonl"), ("high", "high.jsonl"), ("kv", "kv.tsv"))}
        man["lines"] = {"low": sz.mr_low_lines, "high": sz.mr_high_lines, "kv": sz.mr_kv_lines}
    else:
        plan, props = gen_lifecycle(rng, d, sz, _words(rng, 5000))
        man["lifecycle"] = plan
        man["props"] = props
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(man, f)
    return man
