#!/usr/bin/env python3
"""graft benchmark: gomrjob MR jobs and the maintained-index lifecycle,
timed end to end and, in a traced run, layer by layer.

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
driver with sbt (offline); later runs reuse the build while the sources
are unchanged. Inputs come from --seed only. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. See NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("mr_jobs", "index_lifecycle")
# end-to-end metrics, reported by every untraced run
END_TO_END = {"setup_s": "s", "round_s": "s", "mb_s": "MB/s", "ok_rate": "share"}
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 840

# Op kinds whose medians make up one round of each workload's op mix.
KINDS = {
    "mr_jobs": ["mr_low", "mr_high", "mr_chain", "mr_sum"],
    "index_lifecycle": ["%s_%s" % (op, fam) for op in ("append", "delete", "read", "rebuild")
                        for fam in ("text", "vec")],
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    """Hash of the contents of `paths` (files, or directories walked in
    order, skipping build output)."""
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else []
        for dirpath, dirnames, names in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project", ".bsp"))
            files += [os.path.join(dirpath, f) for f in sorted(names)]
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        if sub:
            home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("Spark not found: set SPARK_HOME")
    return home


def build(engine_hash):
    """Compile the engine and the driver with sbt unless the sources are
    unchanged since the last build. Returns the driver classpath."""
    classes = [os.path.join(HERE, "target", "scala-2.13", "classes"),
               os.path.join(ROOT, "target", "scala-2.13", "classes")]
    cp = classes + [os.path.join(spark_home(), "jars", "*")]
    stamp = os.path.join(STATE, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == engine_hash and \
            all(os.path.isdir(c) for c in classes):
        return os.pathsep.join(cp)
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true -Xmx2g"
    # keep sbt's scratch files and locks in the checkout
    env["SBT_OPTS"] = (opts + " -Djava.io.tmpdir=%s -Djna.tmpdir=%s -Dsbt.boot.lock=false"
                       " -Dsbt.ivy.home=%s -XX:-UsePerfData"
                       % (tmp, tmp, os.path.join(STATE, "ivy"))).strip()
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    log("building engine and driver with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as out:
        rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                         cwd=HERE, env=env, stdout=out, limit=BUILD_LIMIT_S)
    if rc != 0:
        die("build failed (see .perfbench/build.log)", 3)
    log("build took %.0f s" % (time.time() - t0))
    with open(stamp, "w") as f:
        f.write(engine_hash)
    return os.pathsep.join(cp)


def run_bounded(cmd, limit, **kw):
    """Run `cmd` in its own process group; kill the group after `limit`
    seconds. Always waits for the process to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        log("timed out after %.0f s: %s" % (limit, cmd[0]))
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def launch(cp, workload, inputs, work, seconds, trace, cache, limit):
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + work,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.perfbench.Main",
        workload, inputs, work, str(seconds), str(trace), cache,
    ]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    with open(os.path.join(work, "driver.log"), "w") as out:
        return run_bounded(cmd, limit, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)


# ------------------------------------------------------------------ checks


def check_ops(workload, res, inputs):
    """Check every recorded answer; returns {op id: reason} for wrong ones."""
    bad = {}
    ops = res["ops"]
    if workload == "mr_jobs":
        truth = json.load(open(os.path.join(inputs, "mr_truth.json")))
        for op in ops:
            if op["ok"]:
                why = check.check_mr(op["kind"], check.read_mr_output(op["output"]),
                                     op["counters"], truth)
                if why:
                    bad[op["id"]] = why
    else:
        for op in ops:
            if op["ok"] and op["kind"].startswith("read_"):
                ref = os.path.join(res["ref_dir"], "ref-%s-%s.txt" % (op["family"], op["state"]))
                want = check.read_ids(ref) if os.path.exists(ref) else None
                why = check.check_kept(check.read_ids(op["answer"]), want)
                if why:
                    bad[op["id"]] = why
    return bad


def tally(res, bad):
    """(ops attempted, ops failed): an op fails when it threw or when its
    answer is wrong."""
    counted = [o for o in res["ops"] if o["phase"] in ("warm", "measure")]
    return counted, [o for o in counted if not o["ok"] or o["id"] in bad]


# ----------------------------------------------------------------- metrics


def op_bytes(workload, op, man):
    """Input bytes an op consumes (0 for ops that ingest nothing)."""
    k = op["kind"]
    if workload == "mr_jobs":
        return man["bytes"]["kv" if k == "mr_sum" else "low" if k == "mr_low" else "high"]
    lc = man["lifecycle"]
    fam = k.split("_")[1]
    by_epoch = lc["%s_bytes_by_epoch" % fam]
    st = op.get("state_before")
    if k.startswith("build_"):
        return by_epoch[0]
    if k.startswith("append_") and st is not None:
        return by_epoch[st]
    if k.startswith("rebuild_") and st is not None:
        return sum(by_epoch[: st + 1])
    return 0


def annotate(workload, ops):
    """Attach to each mutation the epoch it leaves the index at, taken from
    the state of the read that follows it."""
    if workload != "index_lifecycle":
        return
    for i, op in enumerate(ops):
        nxt = ops[i + 1] if i + 1 < len(ops) else None
        if nxt and nxt.get("state"):
            e = int(nxt["state"].lstrip("r").split("-")[0][1:])
            op["state_before"] = e


def end_to_end(workload, res, man, failed_ids):
    ops = [o for o in res["ops"] if o["phase"] == "measure"]
    per_kind = {}
    for k in KINDS[workload]:
        walls = [o["wall_s"] for o in ops if o["kind"] == k and o["ok"] and o["id"] not in failed_ids]
        per_kind[k] = stats.summary(walls)
    missing = [k for k, v in per_kind.items() if not v["n"]]
    round_s = sum(v["median"] for v in per_kind.values() if v["n"])
    good = [o for o in ops if o["ok"] and o["id"] not in failed_ids]
    busy = sum(o["wall_s"] for o in good)
    mb_s = sum(op_bytes(workload, o, man) for o in good) / 1e6 / busy if busy else 0.0
    return per_kind, missing, round_s, mb_s


def keep_failed(run_dir):
    """Keep the inputs, answers and driver log of the latest failed run."""
    dst = os.path.join(STATE, "failed-run")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.move(run_dir, dst)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found under %s/src/main/scala: run from a full checkout" % ROOT)
    os.makedirs(STATE, exist_ok=True)
    engine_hash = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                             os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")])
    cp = build(engine_hash)

    t_setup = time.time()
    run_dir = os.path.join(STATE, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    # reference answers depend on the engine, the driver and the inputs
    cache = os.path.join(STATE, "cache", engine_hash + tree_hash([os.path.join(HERE, "gen.py")]),
                         "%s-seed%d" % (a.workload, a.seed))
    os.makedirs(cache, exist_ok=True)
    try:
        man = gen.generate(a.seed, inputs, a.workload)
        gen_s = time.time() - t_setup
        rc = launch(cp, a.workload, inputs, work, a.seconds, a.trace, cache,
                    RUN_LIMIT_S - (time.time() - t_setup))
        shutil.copy(os.path.join(work, "driver.log"), os.path.join(STATE, "last-driver.log"))
        res_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            keep_failed(run_dir)
            log("driver exited with %d; run kept in .perfbench/failed-run" % rc)
            sys.exit(4)
        res = json.load(open(res_path))
        annotate(a.workload, res["ops"])
        setup_s = res["ready_ms"] / 1000.0 - t_setup
        bad = check_ops(a.workload, res, inputs)
        counted, failed = tally(res, bad)
        for o in failed:
            log("op %d %s failed: %s" % (o["id"], o["kind"], o.get("error") or bad.get(o["id"])))
        per_kind, missing, round_s, mb_s = end_to_end(a.workload, res, man, bad)
        attempted = len(counted)
        fail_rate = len(failed) / attempted
        for k, v in sorted(man["props"].items()):
            print("input %-28s %s" % (k, v))
        print("cores %d, shuffle partitions %d, input generation %.2f s"
              % (res["cores"], res["shuffle_partitions"], gen_s))
        for k, v in per_kind.items():
            extra = "".join(", %s %.4f s" % (p, x) for p, x in v.items() if p.startswith("p"))
            print("op %-14s median %s s over %d ops%s" % (
                k, "%.4f" % v["median"] if v["median"] is not None else "-", v["n"], extra))
        print("fail_rate %.4f (%d of %d ops)" % (fail_rate, len(failed), attempted))
        if a.trace:
            table = layers.per_layer(a.workload, res, man, KINDS)
            out_dir = os.path.join(STATE, "out")
            os.makedirs(out_dir, exist_ok=True)
            art = os.path.join(out_dir, "layers-%s-seed%d.json" % (a.workload, a.seed))
            with open(art, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "cores": res["cores"],
                           "layers": table}, f, indent=1, sort_keys=True)
            base = os.path.join(out_dir, "e2e-%s-seed%d.json" % (a.workload, a.seed))
            if os.path.exists(base):
                untraced = json.load(open(base))["round_s"]
                print("tracing overhead %.4f s per round (traced %.4f s, untraced %.4f s)" % (
                    table["trace.round_s"]["value"] - untraced, table["trace.round_s"]["value"],
                    untraced))
            print("per-layer artifact: %s" % os.path.relpath(art, ROOT))
            metrics = table
        else:
            values = {"setup_s": setup_s, "round_s": round_s, "mb_s": mb_s,
                      "ok_rate": 1.0 - fail_rate}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
            for k, v in metrics.items():
                print("%-8s %.4f %s" % (k, v["value"], v["unit"]))
            out_dir = os.path.join(STATE, "out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, "e2e-%s-seed%d.json" % (a.workload, a.seed)), "w") as f:
                json.dump({"round_s": round_s, "per_kind": per_kind, "setup_s": setup_s}, f)
        correct = not failed and not missing
        if not correct:
            keep_failed(run_dir)
            log("wrong or missing answers; run kept in .perfbench/failed-run")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
