#!/usr/bin/env python3
"""The repo benchmark: workloads driven through the program's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness (the
program's sources plus perfbench/harness, with sbt), generates the synthetic
corpus and records each workload's reference fingerprints, all cached under
perfbench/.work. Every run prints one line per metric, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics are
the per-layer ones and the per-layer table is printed as well. A run record
with its provenance header is kept under perfbench/.work/records.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HARNESS = os.path.join(BENCH, "harness")
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import metrics as M  # noqa: E402
import summarize  # noqa: E402
import workloads as W  # noqa: E402

JVM_FLAGS = [
    # the module openings Spark needs outside spark-submit (as the root build's javaOptions)
    *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")],
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=512m",
    f"-Xmx{W.XMX}",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def child_env():
    # the program's opt-in SPARK_GRAFT_* hooks must not change what is measured
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return env


def tree_hash(paths):
    """Content hash of the sources a build depends on."""
    h = hashlib.sha256()
    for base in paths:
        for d, dirs, files in os.walk(base):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile program + harness once per source state; returns the classpath."""
    stamp = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
                       os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")])
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return stamp, open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found: the harness is built with sbt")
    os.makedirs(out, exist_ok=True)
    log(f"building harness {stamp} (sbt compile)")
    t0 = time.time()
    log_path = os.path.join(out, "sbt.log")
    with open(log_path, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HARNESS, fh, W.BUILD_TIMEOUT_S)
    lines = open(log_path).read().splitlines()
    cps = [l for l in lines if l.startswith(os.sep) and "scala-library" in l]
    if rc != 0 or not cps:
        fail(f"harness build failed (see {os.path.join(out, 'sbt.log')})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    log(f"built in {time.time() - t0:.0f} s")
    return stamp, cps[-1]


def corpus_dir(sf):
    key = tree_hash([os.path.join(BENCH, "corpus.py")])[:8]
    d = os.path.join(WORK, "corpus", f"sf{sf}-{W.CORPUS_SEED}-{key}")
    stamp = os.path.join(d, ".complete")
    if not os.path.exists(stamp):
        log(f"generating corpus sf{sf}")
        corpus.write(d, sf, W.CORPUS_SEED)
        open(stamp, "w").write(str(W.CORPUS_SEED))
    return d


def _terminate(signum, _frame):
    """Stop the running child (JVM or sbt) before exiting on a signal."""
    if CHILD and CHILD.poll() is None:
        CHILD.kill()
        CHILD.wait()
    sys.exit(128 + signum)


CHILD = None


def run_child(cmd, cwd, out, timeout):
    """Run one child process to completion (killed after `timeout` s); its
    exit code, or -9 when it was killed."""
    global CHILD
    CHILD = subprocess.Popen(cmd, cwd=cwd, env=child_env(), stdout=out,
                             stderr=subprocess.STDOUT)
    try:
        return CHILD.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        CHILD.kill()
        CHILD.wait()
        return -9


def java(cp, args, tag, timeout):
    tmp = os.path.join(WORK, "tmp", tag)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", f"-Djava.io.tmpdir={tmp}", *JVM_FLAGS, "-cp", cp, "perfbench.Main",
           "--cpus", str(W.cpus()), "--work", tmp, *args]
    with open(os.path.join(WORK, "tmp", f"{tag}.log"), "w") as logf:
        return run_child(cmd, tmp, logf, timeout)


def reference(cp, stamp, wl):
    """Fingerprints of the workload's queries at this source state, cross-checked
    once against the DuckDB oracle with scripts/check.py."""
    key = hashlib.sha256(repr((stamp, wl.sf, wl.queries, corpus_dir(wl.sf))).encode())
    path = os.path.join(WORK, "ref", f"{wl.name}-{key.hexdigest()[:16]}.json")
    if os.path.exists(path):
        return json.load(open(path))
    log(f"recording reference fingerprints for {wl.name}")
    sf = corpus_dir(wl.sf)
    tag = f"ref-{wl.name}"
    dump = os.path.join(WORK, "ref", tag)
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    out = os.path.join(WORK, "ref", f"{tag}.raw.json")
    rc = java(cp, ["--mode", "pass", "--sf", sf, "--queries", ",".join(wl.queries),
                   "--warmup", ",".join(wl.warmup), "--out", out,
                   "--dump", dump, "--oracle", os.path.join(dump, "oracle_sql.json")],
              tag, W.REFERENCE_TIMEOUT_S)
    if rc != 0:
        fail(f"reference run for {wl.name} exited {rc}")
    raw = json.load(open(out))
    check_log = os.path.join(WORK, "ref", f"{tag}.check.log")
    with open(check_log, "w") as fh:
        run_child([sys.executable, os.path.join(ROOT, "scripts", "check.py"), sf, dump],
                  ROOT, fh, W.REFERENCE_TIMEOUT_S)
    verdict = M.parse_check(open(check_log).read())
    ref = {o["name"]: {"fp": o.get("fp"), "oracle": verdict.get(o["name"], "none"),
                       "error": o.get("error")} for o in raw["ops"]}
    shutil.rmtree(dump, ignore_errors=True)
    json.dump(ref, open(path, "w"), indent=1, sort_keys=True)
    return ref


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True).stdout.strip() or None
    except OSError:
        return None


def loadavg():
    with open("/proc/loadavg") as fh:
        return fh.read().split()[:3]


def provenance(args, wl, stamp, load0, inputs):
    """Run header. `inputs` are the corpus directory or the event schedule."""
    files = {}
    for d in inputs:
        for p in [os.path.join(d, f) for f in sorted(os.listdir(d))] if os.path.isdir(d) else [d]:
            if p.endswith((".parquet", ".csv")):
                st = os.stat(p)
                files[os.path.relpath(p, WORK)] = {"bytes": st.st_size, "mtime": int(st.st_mtime)}
    return {"git_sha": git_sha(), "build": stamp, "nproc": W.cpus(),
            "master": f"local[{W.cpus()}]", "xmx": W.XMX, "seed": args.seed,
            "workload": wl.name, "trace": args.trace, "seconds": args.seconds,
            "loadavg_start": load0, "loadavg_end": loadavg(), "testdata": files,
            "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "scripts", "check.py")):
        fail("not a checkout of the program: src/main/scala/graft and scripts/check.py "
             "must sit next to perfbench/")
    wl = W.WORKLOADS[args.workload]
    load0 = loadavg()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp, cp = build()
        # records compare only within one build and one workload definition
        with open(os.path.join(BENCH, "workloads.py"), "rb") as fh:
            version = f"{stamp}-{hashlib.sha256(fh.read()).hexdigest()[:8]}"
        ref = reference(cp, stamp, wl) if wl.kind == "pass" else None
        sf = corpus_dir(wl.sf) if wl.kind == "pass" else None
        sched = None
        tag = f"{wl.name}-{args.seed}-{args.trace}"
        out = os.path.join(WORK, "tmp", f"{tag}.json")
        spans = os.path.join(WORK, "tmp", f"{tag}.spans.jsonl")
        jargs = ["--trace", str(args.trace), "--out", out, "--spans", spans]
        if wl.kind == "pass":
            jargs += ["--mode", "pass", "--sf", sf, "--warmup", ",".join(wl.warmup),
                      "--queries", ",".join(W.order(wl, args.seed))]
        else:
            sched = os.path.join(WORK, "tmp", f"{tag}.schedule.csv")
            W.write_schedule(sched, wl, args.seed, args.seconds)
            jargs += ["--mode", "live", "--schedule", sched,
                      "--rates", ",".join(str(r) for r in wl.rates)]
        rc = java(cp, jargs, tag, W.JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            fail(f"workload JVM exited {rc} (log: {os.path.join(WORK, 'tmp', tag + '.log')})")
        raw = json.load(open(out))
        result = M.evaluate(wl, raw, ref)
        header = provenance(args, wl, version, load0, [sf] if sf else [sched])
        records = os.path.join(WORK, "records")
        os.makedirs(records, exist_ok=True)
        if args.trace:
            table = summarize.summarize(wl.name, raw, summarize.read_spans(spans), W.cpus(),
                                        result,
                                        summarize.untraced_wall(records, wl.name, version))
            result.update(per_layer=table["metrics"], layer_s=table["layer_s"],
                          traced_wall_s=table["wall_s"])
            print(table["text"])
        rec_path = os.path.join(records, f"{time.strftime('%Y%m%dT%H%M%S')}-{tag}.json")
        json.dump({"header": header, "result": result, "raw": raw}, open(rec_path, "w"))
        if args.trace:
            shutil.copy(spans, rec_path[:-5] + ".spans.jsonl")
        shutil.rmtree(os.path.join(WORK, "tmp", tag), ignore_errors=True)
        for f in (out, spans, sched):
            if f and os.path.exists(f):
                os.remove(f)
    for line in M.report_lines(wl, result):
        print(line)
    keys = W.PER_LAYER if args.trace else W.END_TO_END
    src = result["per_layer"] if args.trace else result["end_to_end"]
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": src[k], "unit": u} for k, u in keys}}))


if __name__ == "__main__":
    main()
