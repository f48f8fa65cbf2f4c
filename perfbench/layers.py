"""Per-layer metrics of a traced run, computed from the driver's op
records. Every metric is reported for every workload; a layer a workload
never calls reads 0 there.

The traced run follows a fixed schedule (one round of each op mix; two
lifecycle rounds), so counts repeat exactly for one seed.
"""
import os

import stats

RUNTIME_OPS = ("build", "append", "delete", "read", "rebuild")
SPAN_FIELDS = (("wall_s", "s"), ("jobs", "count"), ("task_busy_s", "s"),
               ("driver_gap_s", "s"), ("plan_s", "s"))


def names(kinds):
    """(name, unit) of every per-layer metric, in report order."""
    out = [
        ("sources.sink_mb", "MB"), ("sources.sink_files", "count"),
        ("mr.map_stage_s", "s"), ("mr.reduce_stage_s", "s"), ("mr.shuffle_mb", "MB"),
        ("mr.shuffle_records_per_line", "ratio"), ("mr.spill_mb", "MB"),
        ("mr.invalid_lines", "count"),
        ("functions.sig_busy_s", "s"),
        ("llm.candidates", "count"), ("llm.verified", "count"), ("llm.verify_yield", "ratio"),
        ("llm.max_bucket", "count"), ("llm.task_skew", "ratio"), ("llm.resolve_iters", "count"),
        ("llm.resolve_s", "s"),
    ]
    for op in RUNTIME_OPS:
        out += [("runtime.%s.files_written" % op, "count"),
                ("runtime.%s.mb_written" % op, "MB"),
                ("runtime.%s.ckpt_rdds" % op, "count")]
    out += [("runtime.write_amp", "ratio"), ("runtime.epochs", "count"),
            ("runtime.manifest_read_s", "s"), ("runtime.bytes_per_doc", "B")]
    for k in [k for ks in kinds.values() for k in ks]:
        out += [("%s.%s" % (k, f), u) for f, u in SPAN_FIELDS]
    out += [("ops.tasks", "count"), ("ops.gc_s", "s"), ("trace.round_s", "s")]
    return out


def span(op):
    """Span figures of one op record."""
    stages = op.get("stages", [])
    return {
        "wall_s": op["wall_s"],
        "jobs": len(op.get("jobs", [])),
        "tasks": sum(len(s["task_ms"]) for s in stages),
        "task_busy_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "plan_s": op.get("plan_ms", 0) / 1000.0,
        "driver_gap_s": stats.driver_gap(op["t0_ms"], op["t1_ms"], op.get("jobs", [])) / 1000.0,
    }


def task_skew(stages):
    """Slowest ÷ median task of the stage with the most task time."""
    st = [s for s in stages if s["task_ms"]]
    if not st:
        return 0.0
    heavy = max(st, key=lambda s: sum(s["task_ms"]))
    med = stats.median(heavy["task_ms"])
    return max(heavy["task_ms"]) / med if med else 0.0


def per_layer(workload, res, man, kinds):
    ops = [o for o in res["ops"] if o["phase"] == "measure" and o["ok"]]
    v = {n: 0.0 for n, _ in names(kinds)}
    spans = {o["id"]: span(o) for o in ops}

    for k in kinds[workload]:
        ks = [spans[o["id"]] for o in ops if o["kind"] == k]
        for f, _ in SPAN_FIELDS:
            v["%s.%s" % (k, f)] = stats.median([s[f] for s in ks]) if ks else 0.0
    v["trace.round_s"] = sum(v["%s.wall_s" % k] for k in kinds[workload])
    v["ops.tasks"] = sum(s["tasks"] for s in spans.values())
    v["ops.gc_s"] = sum(s["gc_s"] for s in spans.values())
    if workload == "mr_jobs":
        _mr(v, ops, man)
    else:
        muts = [o for o in ops if o["kind"].split("_")[0] in ("append", "delete", "rebuild")]
        v["llm.task_skew"] = stats.median([task_skew(o["stages"]) for o in muts]) if muts else 0.0
        v["llm.candidates"] = sum(o.get("band_join_rows", 0) for o in ops)
        _runtime(v, [o for o in res["ops"] if o["ok"]], man)
        _probes(v, res["probes"])
    if v["llm.candidates"] and v["llm.verified"]:
        v["llm.verify_yield"] = v["llm.verified"] / v["llm.candidates"]
    return {n: {"value": v[n], "unit": u} for n, u in names(kinds)}


def _mr(v, ops, man):
    lines = man["lines"]
    src = {"mr_low": "low", "mr_high": "high", "mr_chain": "high", "mr_sum": "kv"}
    read, shuffled = 0, 0
    for o in ops:
        st = o["stages"]
        v["mr.map_stage_s"] += sum((s["complete"] - s["submit"]) / 1000.0
                                   for s in st if s["shuffle_map"])
        v["mr.reduce_stage_s"] += sum((s["complete"] - s["submit"]) / 1000.0
                                      for s in st if not s["shuffle_map"])
        v["mr.shuffle_mb"] += sum(s["shuffle_write_bytes"] for s in st) / 1e6
        v["mr.spill_mb"] += sum(s["spill_bytes"] for s in st) / 1e6
        shuffled += sum(s["shuffle_write_records"] for s in st)
        read += lines[src[o["kind"]]]
        c = o.get("counters", {})
        v["mr.invalid_lines"] += c.get("example,invalid line", 0) + \
            c.get("unknown,invalid line - no tab", 0)
        parts = [os.path.join(o["output"], f) for f in os.listdir(o["output"])
                 if f.startswith("part-")]
        v["sources.sink_mb"] += sum(os.path.getsize(p) for p in parts) / 1e6
        v["sources.sink_files"] += len(parts)
    v["mr.shuffle_records_per_line"] = shuffled / read if read else 0.0


def _probes(v, probes):
    for p in ("sig_text", "sig_vec"):
        if probes.get(p):
            v["functions.sig_busy_s"] += sum(s["run_ms"] for s in probes[p]["stages"]) / 1000.0
    for fam in probes.get("resolve", {}).values():
        v["llm.verified"] += fam["verified"]
        v["llm.resolve_iters"] += fam["resolve_iters"]
        v["llm.resolve_s"] += fam["resolve"]["wall_s"]
    v["llm.max_bucket"] = probes.get("max_bucket", 0)


def _runtime(v, ops, man):
    for op in RUNTIME_OPS:
        # builds run once, in the warm-up; the other kinds are measured
        sel = [o for o in ops if o["kind"].startswith(op + "_")
               and (op == "build" or o["phase"] == "measure")]
        if sel:
            n = float(len(sel))
            v["runtime.%s.files_written" % op] = sum(o.get("files_written", 0) for o in sel) / n
            v["runtime.%s.mb_written" % op] = sum(o.get("bytes_written", 0) for o in sel) / n / 1e6
            v["runtime.%s.ckpt_rdds" % op] = sum(o.get("ckpt_rdds", 0) for o in sel) / n
    lc = man["lifecycle"]
    appends = [o for o in ops if o["kind"].startswith("append_")]
    delta_bytes = sum(lc["%s_bytes_by_epoch" % o["kind"].split("_")[1]][o["state_before"]]
                      for o in appends if "state_before" in o)
    written = sum(o.get("bytes_written", 0) for o in appends)
    v["runtime.write_amp"] = written / delta_bytes if delta_bytes else 0.0
    reads = [o for o in ops if o["kind"].startswith("read_")]
    v["runtime.epochs"] = max([o.get("epochs", 0) for o in reads] or [0])
    v["runtime.manifest_read_s"] = stats.median([o["manifest_read_s"] for o in reads]) or 0.0
    # live bytes per surviving item, after the last mutation before the rebuild
    live, items = 0, 0
    for fam in ("text", "vec"):
        muts = [i for i, o in enumerate(ops) if o["kind"] in ("append_" + fam, "delete_" + fam)]
        if not muts:
            continue
        last = ops[muts[-1]]
        nxt = next((o for o in ops[muts[-1] + 1:] if o["kind"] == "read_" + fam), None)
        if nxt is None:
            continue
        e, d = nxt["state"].lstrip("r").split("-")
        live += last.get("bytes_live", 0)
        items += lc["base"] + int(e[1:]) * lc["delta"] - int(d[1:])
    v["runtime.bytes_per_doc"] = live / items if items else 0.0
