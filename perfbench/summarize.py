#!/usr/bin/env python3
"""Trace summarizer: spans + listener counts → the per-layer table.

Each operation's wall (a query, or a rate step) is split among layers by
self time: at every instant the highest-priority layer with an open span
owns it (a Spark job beats a Catalyst phase, which beats a streaming
trigger, which beats the harness span around it). Time no span covers is
the unattributed remainder. Task-side counts (run, CPU, GC, shuffle) are
not wall time; they are given as shares of their own base (slot time, task
run time), each printed with that base.

    python3 perfbench/summarize.py            # one row per workload, latest traced records
"""
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402

# layer of a span → (priority, label); higher priority owns overlapping time
LAYERS = {
    "spark.jobs": (6, "Spark jobs: scheduler + executor tasks + shuffle"),
    "catalyst": (5, "Catalyst phases (incl. GraftExtensions rules)"),
    "graft.streaming": (4, "graft.streaming: trigger overhead outside jobs"),
    "graft.Resources": (3, "graft.Resources: scope release"),
    "graft.plans.PipelineManager": (3, "graft.plans.PipelineManager lifecycle"),
    "graft.queries": (2, "graft.queries/operators: Q.fn build"),
    "perfbench.generator": (1, "load generator: open-loop feed, no trigger running"),
    "perfbench.drain": (1, "drain: waiting for the last commit, no trigger running"),
    "spark": (1, "action on the calling thread, outside jobs and phases"),
}
UNATTRIBUTED = "unattributed remainder"


def self_times(window, intervals):
    """Split window (t0, t1) among layers. intervals: [(t0, t1, layer)] with
    layer in LAYERS. Returns {label: seconds}, unattributed included."""
    w0, w1 = window
    cuts = {w0, w1}
    clipped = []
    for a, b, layer in intervals:
        a, b = max(a, w0), min(b, w1)
        if b > a and layer in LAYERS:
            clipped.append((a, b, layer))
            cuts.update((a, b))
    cuts = sorted(cuts)
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        live = [l for s, e, l in clipped if s <= a and e >= b]
        label = LAYERS[max(live, key=lambda l: LAYERS[l][0])][1] if live else UNATTRIBUTED
        out[label] = out.get(label, 0.0) + (b - a) / 1000.0
    return out


def union_ms(window, intervals):
    w0, w1 = window
    spans = sorted((max(a, w0), min(b, w1)) for a, b in intervals if min(b, w1) > max(a, w0))
    total, cur = 0.0, None
    for a, b in spans:
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        total += cur[1] - cur[0]
    return total


def read_spans(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def untraced_wall(records_dir, workload, build):
    """Median wall_s of this build's untraced records of the workload, or None."""
    walls = []
    for p in glob.glob(os.path.join(records_dir, f"*-{workload}-*-0.json")):
        try:
            r = json.load(open(p))
        except (OSError, ValueError):
            continue
        if r["header"].get("build") == build:
            walls.append(r["result"]["end_to_end"]["wall_s"])
    return (statistics.median(walls), len(walls)) if walls else None


def median_of(steps, key):
    """Median of a step field over the steps that have it; 0 on a workload
    without steps."""
    xs = [s[key] for s in steps if s[key] is not None]
    return statistics.median(xs) if xs else 0.0


def op_windows(spans):
    """op → (t0, t1) of its timed window (the query span / the step span)."""
    wins = {}
    for s in spans:
        if s["op"] and (s["name"] == "query" or s["name"].startswith("step.")):
            wins[s["op"]] = (s["t0"], s["t1"])
    return wins


def summarize(workload, raw, spans, cpus, result, untraced=None):
    """Per-layer metrics and table of one traced run. `result` is what
    metrics.evaluate made of the run; `untraced` is untraced_wall()'s
    (median wall_s, runs) or None."""
    figures = result["figures"]
    traced = result["end_to_end"]["wall_s"]
    wins = op_windows(spans)
    by_op = {}
    for s in spans:
        if s["op"] in wins and not (s["name"] == "query" or s["name"].startswith("step.")):
            by_op.setdefault(s["op"], []).append(s)
    counts = raw.get("trace", {}).get("counts", {})
    layer_s, job_active, gap, build_jobs = {}, 0.0, 0.0, 0
    for op, win in wins.items():
        ss = by_op.get(op, [])
        for k, v in self_times(win, [(s["t0"], s["t1"], s["layer"]) for s in ss]).items():
            layer_s[k] = layer_s.get(k, 0.0) + v
        jobs = [(s["t0"], s["t1"]) for s in ss if s["layer"] == "spark.jobs"]
        active = union_ms(win, jobs)
        job_active += active / 1000.0
        gap += (win[1] - win[0] - active) / 1000.0
        builds = [(s["t0"], s["t1"]) for s in ss if s["name"] == "build"]
        build_jobs += sum(1 for a, _ in jobs if any(b0 <= a <= b1 for b0, b1 in builds))
    wall = sum((b - a) / 1000.0 for a, b in wins.values())

    def c(k):
        return sum(v.get(k, 0) for o, v in counts.items() if o in wins)

    ops = raw.get("ops", raw.get("steps", []))
    batch_ms = [x for o, xs in raw.get("trace", {}).get("batch_ms", {}).items() if o in wins for x in xs]
    run_s = c("task.run_ms") / 1000.0
    lookups = c("state.cache_lookups")
    steps = raw.get("steps", [])
    figs = [M.step_figures(s) for s in steps]
    late = [x for f in figs for x in f["late_ms"]]
    unattr = layer_s.get(UNATTRIBUTED, 0.0)
    m = {
        "build.s": sum(o.get("build_s", 0.0) for o in ops),
        "build.jobs": build_jobs,
        "catalyst.analysis_s": c("catalyst.analysis_ms") / 1000.0,
        "catalyst.optimizer_s": c("catalyst.optimization_ms") / 1000.0,
        "catalyst.planning_s": c("catalyst.planning_ms") / 1000.0,
        "codegen.classes": c("codegen.classes"),
        "codegen.compile_s": c("codegen.compile_us") / 1e6,
        "aqe.replans": c("aqe.replans"),
        "sched.jobs": c("sched.jobs"),
        "sched.stages": c("sched.stages"),
        "sched.tasks": c("sched.tasks"),
        "sched.delay_s": c("sched.delay_ms") / 1000.0,
        "sched.driver_gap_s": gap,
        "task.run_s": run_s,
        "task.cpu_s": c("task.cpu_ns") / 1e9,
        "task.gc_s": c("task.gc_ms") / 1000.0,
        "task.slot_util": run_s / (job_active * cpus) if job_active else 0.0,
        "shuffle.write_bytes": c("shuffle.write_bytes"),
        "shuffle.read_bytes": c("shuffle.read_bytes"),
        "shuffle.fetch_wait_s": c("shuffle.fetch_wait_ms") / 1000.0,
        "shuffle.write_s": c("shuffle.write_ns") / 1e9,
        "spill.bytes": c("spill.bytes"),
        "ckpt.blocks": c("ckpt.blocks"),
        "ckpt.bytes": c("ckpt.bytes"),
        "scope.release_s": sum(o.get("release_s", 0.0) for o in ops),
        "scan.bytes": c("scan.bytes"),
        "scan.records": c("scan.records"),
        "stream.batches": c("stream.batches"),
        "stream.rows_in": c("stream.rows_in"),
        "stream.batch_ms.p50": M.pct(batch_ms, 0.5) or 0.0,
        "stream.add_batch_ms": c("stream.add_batch_ms"),
        "stream.planning_ms": c("stream.planning_ms"),
        "stream.wal_ms": c("stream.wal_ms"),
        "stream.commit_ms": c("stream.commit_ms"),
        "stream.latest_offset_ms": c("stream.latest_offset_ms"),
        "state.rows_total": c("state.rows_total"),
        "state.memory_bytes": c("state.memory_bytes"),
        "state.commit_ms": c("state.commit_ms"),
        "state.update_ms": c("state.update_ms"),
        "state.cache_hit_ratio": c("state.cache_hits") / lookups if lookups else 0.0,
        "deploy.schedule_ms": median_of(steps, "schedule_ms"),
        "deploy.start_ms": median_of(steps, "start_ms"),
        "deploy.stop_ms": median_of(steps, "stop_ms"),
        "mount.queries": c("mount.queries"),
        "mount.start_ms": c("mount.start_ms") / c("mount.queries") if c("mount.queries") else 0.0,
        "mount.stream_s": c("mount.stream_ms") / 1000.0,
        "gen.events": len(late),
        "gen.late_ms.p99": M.pct(late, 0.99) or 0.0,
        "backlog.max": max((f["backlog_max"] for f in figs), default=0),
        "jvm.rss_peak_mb": raw["jvm"]["rss_peak_mb"],
        "jvm.gc_s": raw["jvm"]["gc_s"],
        "jvm.code_cache_mb": raw["jvm"]["code_cache_mb"],
        "jvm.heap_peak_mb": raw["jvm"]["heap_peak_mb"],
        "trace.attributed_share": 1.0 - unattr / wall if wall else 0.0,
        "trace.overhead_s": (traced - untraced[0]) if untraced else 0.0,
    }
    m["op_p50_ms"] = figures["op_p50_ms"]
    m["fail_ratio"] = figures["fail_ratio"]
    m["sustained_eps"] = figures.get("sustained_eps", 0.0)
    return {"metrics": m, "layer_s": layer_s, "wall_s": wall,
            "text": render(workload, m, layer_s, len(wins), wall, job_active, cpus, traced, untraced)}


def render(workload, m, layer_s, n_ops, wall, job_active, cpus, traced, untraced):
    lines = [f"per-layer table, {workload} (traced): {n_ops} timed operations, {wall:.3f} s "
             "in all, the base of every share below",
             f"  {'layer':<56} {'self_s':>9} {'share':>8}"]
    for label, v in sorted(layer_s.items(), key=lambda kv: (kv[0] == UNATTRIBUTED, -kv[1])):
        lines.append(f"  {label:<56} {v:9.3f} {100 * v / wall if wall else 0:7.1f}%")
    if untraced:
        u, n = untraced
        lines.append(f"  tracing overhead: traced wall_s {traced:.3f} s - untraced wall_s {u:.3f} s "
                     f"(median of {n} untraced runs) = {traced - u:+.3f} s ({100 * (traced - u) / u:+.1f}% of untraced)")
    else:
        lines.append("  tracing overhead: n/a, no untraced run of this build recorded yet")
    slot = job_active * cpus
    run = m["task.run_s"]
    lines.append(f"  task time: task.run_s {run:.3f} s = {100 * run / slot if slot else 0:.1f}% of slot time "
                 f"({cpus} slots x {job_active:.3f} s job-active)")
    for k in ("task.cpu_s", "task.gc_s", "shuffle.write_s", "shuffle.fetch_wait_s"):
        lines.append(f"    {k:<22} {m[k]:9.3f} s = {100 * m[k] / run if run else 0:5.1f}% of task.run_s ({run:.3f} s)")
    d = m["sched.delay_s"]
    lines.append(f"    sched.delay_s          {d:9.3f} s = {100 * d / (run + d) if run + d else 0:5.1f}% "
                 f"of task duration ({run + d:.3f} s)")
    lines.append(f"  sched.driver_gap_s (time with no job active): {m['sched.driver_gap_s']:.3f} s = "
                 f"{100 * m['sched.driver_gap_s'] / wall if wall else 0:.1f}% of the timed {wall:.3f} s")
    return "\n".join(lines)


def main():
    recs = {}
    for p in sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                           ".work", "records", "*-1.json"))):
        r = json.load(open(p))
        recs[r["header"]["workload"]] = r
    labels = sorted({k for r in recs.values() for k in r["result"].get("layer_s", {})},
                    key=lambda l: l == UNATTRIBUTED)
    print("| workload | timed_s | " + " | ".join(labels) + " | tracing overhead_s |")
    print("|---" * (len(labels) + 3) + "|")
    for wl, r in sorted(recs.items()):
        res = r["result"]
        wall = res["traced_wall_s"]
        cells = [f"{100 * res['layer_s'].get(l, 0) / wall:.1f}%" if wall else "-" for l in labels]
        print(f"| {wl} | {wall:.2f} | " + " | ".join(cells) +
              f" | {res['per_layer']['trace.overhead_s']:+.2f} |")
    print("\nShares are of each row's timed_s; tracing overhead is traced wall_s minus the "
          "median untraced wall_s of the same build (0 when none is recorded).")


if __name__ == "__main__":
    main()
