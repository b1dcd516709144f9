"""Workload definitions; the metric catalogue is read from BENCHMARK.json."""
import json
import os
import random
from dataclasses import dataclass

CORPUS_SEED = 42        # the corpus is fixed; --seed orders the pass / drives the generator
XMX = "4g"
JVM_TIMEOUT_S = 150        # a measured run; the whole run must end within 180 s
REFERENCE_TIMEOUT_S = 400  # the once-per-build reference run
BUILD_TIMEOUT_S = 400
LATE_BOUND_MS = 50.0    # a step is invalid if >1 % of its events were appended later than this
LATENCY_LIMIT_MS = 2000.0  # p90 latency limit for a rate to count as sustained


def cpus():
    return len(os.sched_getaffinity(0))


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str                     # "pass" (registry queries) or "live" (deployment ladder)
    sf: float = 0.0
    queries: tuple = ()
    warmup: tuple = ()            # unmeasured queries run in set-up
    rates: tuple = ()             # events/s, r1 < r2 < r3
    pipes: int = 0


# registry_pass: a fixed stratified list of 27 batch queries, one to seven
# from every registry family, each family's picks spread over its cost range
# at sf0.01. It holds the named LLM-data kernels that fit the run (d02
# minhash LSH, k03 sample quantiles), queries that checkpoint (d02), shuffle
# (q04, k03, s10) or use the GraftExtensions range-join rewrite (q27).
REGISTRY_PASS = (
    "q04_multi_join", "q05_window_rank", "q10_rollup", "q16_string_funcs",
    "q18_json_extract", "q26_asof_join", "q27_range_join",
    "p01_volume_meter", "p20_mp2_synthesis", "p34_ac3_index",
    "m19_mkv_container", "m45_vp8_motion", "m69_h264_cabac",
    "e05_gate", "e13_synchronizer",
    "c04_calc_logic",
    "t03_lang_id", "t08_domain_mix",
    "s01_knn_bruteforce", "s07_bm25_rank", "s10_sq8_search",
    "k01_kmv_distinct", "k03_sample_quantiles", "k08_countmin_hh",
    "d01_exact_dedup", "d02_minhash_lsh",
    "g03_common_neighbors",
)

# Warm-up queries outside the pass, one per family, run in set-up: the
# first query of a family in a JVM pays for warming its code path, and
# which member comes first changes with --seed, so it is paid here instead.
WARMUP = ("q01_pricing_summary", "p02_activity_meter", "m01_binary_meta",
          "e01_string_matcher", "c01_calc_stateless", "t02_quality_score",
          "s02_ann_lsh", "k02_hll_distinct", "d05_embedding_neardup",
          "g01_triangle_count")

# stream_live's ladder, events/s. r1 and r2 sit where latency is the
# micro-batch floor; r3 is the highest rate one generator thread drives
# within LATE_BOUND_MS, where batches are large and p90 latency is closest
# to LATENCY_LIMIT_MS (README "Choosing the ladder").
RATES = (1000.0, 4000.0, 14000.0)

WORKLOADS = {w.name: w for w in (
    Workload("registry_pass", "pass", 0.01, REGISTRY_PASS, WARMUP),
    Workload("stream_live", "live", rates=RATES, pipes=8),
)}


def order(wl, seed):
    """The pass order for --seed: families take turns in a fixed round-robin
    (q, p, m, e, c, t, s, k, d, g, q, ...) and the seed shuffles which member
    of a family fills each of its turns. The first query to touch a code path
    pays for warming it, so a free shuffle moves that cost between cheap and
    dear queries; keeping each family's turns in place keeps it put."""
    rng = random.Random(seed)
    fams = {}
    for q in wl.queries:
        fams.setdefault(q[0], []).append(q)
    for members in fams.values():
        rng.shuffle(members)
    out = []
    while any(fams.values()):
        for members in fams.values():
            if members:
                out.append(members.pop())
    return out


def schedule(wl, seed, seconds):
    """Seeded open-loop events, one rate step after another: Poisson arrivals
    at each ladder rate for seconds/len(rates) each. Returns
    [(step, due_ms, pipe, topic, value)]; topic 1 is the gate's control."""
    rng = random.Random(seed)
    step_ms = 1000.0 * seconds / len(wl.rates)
    out = []
    for i, rate in enumerate(wl.rates):
        t = 0.0
        while t < step_ms:
            pipe = f"p{rng.randrange(wl.pipes)}"
            if rng.random() < 0.1:
                out.append((i, t, pipe, 1, 1.0 if rng.random() < 0.7 else 0.0))
            else:
                out.append((i, t, pipe, 0, round(rng.uniform(0.0, 100.0), 2)))
            t += rng.expovariate(rate) * 1000.0
    return out


def write_schedule(path, wl, seed, seconds):
    with open(path, "w") as fh:
        fh.write("# step,due_ms,pipe,topic,value\n")
        for s, due, pipe, topic, value in schedule(wl, seed, seconds):
            fh.write(f"{s},{due!r},{pipe},{topic},{value!r}\n")


def _catalogue():
    """The metric catalogue, (name, unit) pairs, from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


END_TO_END, PER_LAYER = _catalogue()
