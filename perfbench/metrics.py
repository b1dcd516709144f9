"""Turn a harness record into the benchmark's metrics.

Percentile rule: a percentile is reported only with at least 10 samples
beyond it (p50 needs 20 samples, p90 100, p99 1000); `pct` returns None
otherwise.
"""
import bisect
import math
import statistics

import workloads as W

MIN_BEYOND = 10


def pct(xs, q):
    """Linear-interpolated q-quantile of xs, or None below the sample rule."""
    xs = sorted(x for x in xs if x is not None and not math.isnan(x))
    n = len(xs)
    if n == 0 or n * (1.0 - q) < MIN_BEYOND - 1e-9:
        return None
    pos = q * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def top_pct(n):
    """The highest whole percentile with at least 10 of n samples beyond it."""
    return int(math.floor(100.0 * (1.0 - MIN_BEYOND / n))) if n > MIN_BEYOND else None


def parse_check(text):
    """scripts/check.py output → {query: "ok" | "<KIND>: detail"}."""
    out = {}
    for line in text.splitlines():
        kind, _, rest = line.partition(" ")
        rest = rest.strip()
        if kind in ("OK", "VALUES", "ROWS", "SCHEMA", "ERROR", "MISSING") and rest:
            name = rest.split(":")[0].split(" ")[0]
            out[name] = "ok" if kind == "OK" else f"{kind}: {rest[len(name) + 1:].strip()}"
    return out


def op_failure(op, ref):
    """Why a pass operation counts as failed, or None. A query fails when it
    raised, when its reference is missing or failed the oracle, or when its
    fingerprint differs from the reference."""
    if not op.get("ok"):
        return f"raised: {op.get('error')}"
    r = (ref or {}).get(op["name"])
    if r is None or r.get("fp") is None:
        return "no reference fingerprint"
    if r.get("oracle") not in ("ok", "none"):
        return f"reference fails the oracle ({r['oracle']})"
    if op.get("fp") != r["fp"]:
        return f"fingerprint {op.get('fp')} != reference {r['fp']}"
    return None


def evaluate(wl, raw, ref):
    res = evaluate_pass(wl, raw, ref) if wl.kind == "pass" else evaluate_live(wl, raw)
    res["end_to_end"]["setup_s"] = raw["setup_s"]
    res["figures"]["rss_peak_mb"] = raw["jvm"]["rss_peak_mb"]
    return res


def evaluate_pass(wl, raw, ref):
    ops = raw["ops"]
    fails = {o["name"]: op_failure(o, ref) for o in ops}
    fails = {k: v for k, v in fails.items() if v}
    walls = [o["wall_s"] for o in ops]
    p50 = pct(walls, 0.5)
    if p50 is None:
        raise SystemExit(f"{wl.name}: {len(walls)} queries are too few for a median")
    k = top_pct(len(walls))
    figures = {"queries": len(walls), "op_p50_ms": p50 * 1000.0, f"query_p{k}_s": pct(walls, k / 100.0),
               "fail_ratio": len(fails) / len(ops)}
    if k >= 90:
        figures["query_p90_s"] = pct(walls, 0.9)
    return {"attempted": len(ops), "failed": len(fails), "failures": fails,
            "figures": figures,
            "end_to_end": {"wall_s": sum(walls)}}


def step_figures(step):
    """Latency, lateness and backlog of one rate step. Events due before the
    deployment's first commit are start-up (timed in deploy.start_ms), not
    latency samples. The backlog is sampled at every commit: events appended
    and not yet committed. It grew if its mean over the second half of the
    feed's commits (the catch-up commit after start excluded) is more than
    1.5 times its mean over the first half."""
    due, app, com = step["due_ms"], step["appended_ms"], step["commit_ms"]
    batches = step["batches"]
    first = batches[0][1] if batches else float("inf")
    lat = [c - d for d, c in zip(due, com) if c is not None and d >= first]
    late = [a - d for d, a in zip(due, app)]
    app_sorted = sorted(app)
    com_sorted = sorted(c for c in com if c is not None)
    samples = [(at, bisect.bisect_right(app_sorted, at) - bisect.bisect_right(com_sorted, at))
               for _, at, _ in batches]
    feed = [b for at, b in samples[1:] if due and at <= due[-1]]
    half = len(feed) // 2
    grew = half >= 2 and statistics.mean(feed[half:]) > 1.5 * statistics.mean(feed[:half])
    over = sum(1 for x in late if x > W.LATE_BOUND_MS)
    return {"latency_ms": lat, "late_ms": late,
            "backlog_max": max((b for _, b in samples), default=0), "backlog_grew": grew,
            "valid": over <= 0.01 * len(late), "late_over_bound": over}


def evaluate_live(wl, raw):
    """The ladder's figures. op_p50_ms is the median latency of the events
    of the valid steps below the top rate (r1, r2): the top rate is the
    highest the generator drives, where latency is not the micro-batch
    floor."""
    steps = raw["steps"]
    figs = [step_figures(s) for s in steps]
    figures = {"fail_ratio": sum(1 for s in steps if not s["ok"]) / len(steps)}
    floor = []
    sustained = 0.0
    for i, (s, f) in enumerate(zip(steps, figs)):
        tag = f"r{i + 1}"
        figures[f"backlog_max.{tag}"] = f["backlog_max"]
        if f["valid"] and s["ok"]:
            p50, p90 = pct(f["latency_ms"], 0.5), pct(f["latency_ms"], 0.9)
            if p50 is not None:
                figures[f"latency_p50_ms.{tag}"] = p50
            if p90 is not None:
                figures[f"latency_p90_ms.{tag}"] = p90
            if i < len(steps) - 1:
                floor += f["latency_ms"]
            if p90 is not None and p90 <= W.LATENCY_LIMIT_MS and not f["backlog_grew"]:
                sustained = max(sustained, s["rate"])
    figures["sustained_eps"] = sustained
    p50 = pct(floor, 0.5)
    k = top_pct(len(floor))
    if k:
        figures.update({"events_timed": len(floor), f"latency_p{k}_ms": pct(floor, k / 100.0)})
    if p50 is None:
        raise SystemExit(f"{wl.name}: no valid step below the top rate to time "
                         f"(late events over bound: {[f['late_over_bound'] for f in figs]})")
    figures["op_p50_ms"] = p50
    fails = {s["op"]: s["error"] for s in steps if not s["ok"]}
    return {"attempted": len(steps), "failed": len(fails), "failures": fails,
            "figures": figures,
            "end_to_end": {"wall_s": sum(s["wall_s"] for s in steps)}}


def report_lines(wl, res):
    """One human-readable line per metric: the end-to-end set, then the
    workload's own figures (fail_ratio, percentiles, ladder results)."""
    lines = [f"{wl.name}: {res['attempted']} attempted, {res['failed']} failed"]
    for name, fail in sorted(res.get("failures", {}).items()):
        lines.append(f"  FAILED {name}: {fail}")
    for k, v in list(res["end_to_end"].items()) + sorted(res["figures"].items()):
        lines.append(f"  {k:<24} {v:12.4f} {unit(k)}")
    return lines


def unit(name):
    base = name.split(".r")[0]
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_eps", "events/s"),
                      ("_ratio", "ratio")):
        if base.endswith(suffix):
            return u
    return "count"
