"""Turns the raw record of one benchmark process into metrics.

Kept free of I/O so the self-tests can check the arithmetic on synthetic
records: percentiles and their sample counts, failure accounting, and span
self time.
"""
import math
import statistics

# Per-layer metrics, printed by a traced run (--trace 1). Order and units
# match BENCHMARK.json.
KERNELS = ["simhash16", "minhash_sig", "ngram_bucket_counts", "jaccard_pair_emit",
           "portable_ngram_hash", "shingle_hash", "chargram_hash", "winnow",
           "vector_dot", "vector_d2"]
SPAN_KINDS = ["request", "queries.build", "exec.action", "engine.run", "memo.build",
              "spark.query", "catalyst.analysis", "catalyst.optimization",
              "catalyst.planning", "spark.job", "spark.stage", "streaming.trigger"]
# The streaming layer is measured by a probe after the window of a traced
# run: the streaming dedup gate, run PROBE_RUNS times as pass -1.
PROBE_PASS, PROBE_RUNS = "-1", 2
# Spans opened by the request loop itself; the others come from listeners.
HARNESS_KINDS = {"request", "queries.build", "exec.action", "engine.run", "memo.build",
                 "functions.kernel"}

COUNTER_LAYERS = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("memo.build_s", "s"), ("memo.builds", "count"), ("memo.hits", "count"),
    ("memo.bytes", "MB"),
    ("engine.run_s", "s"), ("engine.jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.queries", "count"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("exec.action_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.task_gc_s", "s"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.peak_exec_mem_mb", "MB"), ("exec.input_mb", "MB"),
    ("exec.output_mb", "MB"), ("exec.failed_tasks", "count"),
    ("streaming.triggers", "count"), ("streaming.start_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.state_commit_ms", "ms"),
]
COLD_LAYERS = [("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("jvm.classes_loaded", "count")]

PER_LAYER = (
    [(n, u) for n, u in COUNTER_LAYERS]
    + [("queries.conf_leaks", "count"), ("memo.hit_ratio", "ratio"),
       ("streaming.trigger_p50_ms", "ms"), ("streaming.trigger_max_ms", "ms")]
    + COLD_LAYERS
    + [(f"functions.{k}.rows_per_s", "rows/s") for k in KERNELS]
    + [(f"self.{k}_s", "s") for k in SPAN_KINDS]
    + [("trace.warm_pass_s", "s")]
)

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
              ("p50_s", "s"), ("p95_s", "s"), ("live_heap_mb", "MB")]


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q % of the
    samples at or below it. Returns (value, samples strictly beyond it)."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(v)))
    return v[rank - 1], len(v) - rank


def accounting(raw):
    """(attempted, failed, warm latency samples). A request that threw or
    failed its check counts as failed and contributes no sample."""
    reqs = raw["requests"]
    failed = sum(1 for r in reqs if not r["ok"])
    samples = [r["latency_s"] for r in reqs if r["ok"] and r["pass"] >= 1]
    return len(reqs), failed, samples


def end_to_end(raw):
    """Metric name -> (value, unit, sample count). The number of warm
    passes is fixed by the run length, so every percentile is over the same
    passes in every run of a workload."""
    _, _, samples = accounting(raw)
    passes = raw["passes"]
    warm = [p["wall_s"] for p in passes[1:]]
    if not warm or not samples:
        raise ValueError("a run needs at least one warm pass with a good request")
    p50 = statistics.median(samples)
    p95, beyond = percentile(samples, 95)
    return {
        "setup_s": (raw["setup_s"], "s", 1),
        "cold_pass_s": (passes[0]["wall_s"], "s", 1),
        "warm_pass_s": (statistics.median(warm), "s", len(warm)),
        "p50_s": (p50, "s", len(samples)),
        "p95_s": (p95, "s", len(samples)),
        "live_heap_mb": (statistics.median(p["live_heap_mb"] for p in passes), "MB", len(passes)),
    }, beyond


def self_times(spans):
    """Self time per span kind: each span's duration minus the part covered
    by its children, where listener spans (parent -1) are attached to the
    innermost harness span containing their anchor. Returns
    (kind -> total self seconds, kind -> count, span id -> root request)."""
    by_id = {s["id"]: dict(s) for s in spans}
    harness = [s for s in by_id.values() if s["kind"] in HARNESS_KINDS]
    for s in by_id.values():
        if s["parent"] != -1 or s["kind"] in HARNESS_KINDS:
            continue
        best = None
        for d in harness:
            if d["start"] <= s["anchor"] <= d["end"] and d["id"] != s["id"]:
                if best is None or d["end"] - d["start"] < best["end"] - best["start"]:
                    best = d
        if best is not None:
            s["parent"] = best["id"]
    # spark.job under the query of its SQL execution, spark.stage under its job
    queries = {s["attrs"]["execution_id"]: s["id"] for s in by_id.values()
               if s["kind"] == "spark.query" and s.get("attrs", {}).get("execution_id")}
    jobs = {s["attrs"]["job_id"]: s["id"] for s in by_id.values()
            if s["kind"] == "spark.job" and "job_id" in s.get("attrs", {})}
    for s in by_id.values():
        attrs = s.get("attrs", {})
        if s["kind"] == "spark.job" and attrs.get("execution_id") in queries:
            s["parent"] = queries[attrs["execution_id"]]
        elif s["kind"] == "spark.stage" and attrs.get("job") in jobs:
            s["parent"] = jobs[attrs["job"]]
    children = {}
    for s in by_id.values():
        children.setdefault(s["parent"], []).append(s)
    selfs, counts = {}, {}
    for s in by_id.values():
        covered = _union_within(s["start"], s["end"],
                                [(c["start"], c["end"]) for c in children.get(s["id"], [])])
        own = max(0, (s["end"] - s["start"]) - covered) / 1e9
        selfs[s["kind"]] = selfs.get(s["kind"], 0.0) + own
        counts[s["kind"]] = counts.get(s["kind"], 0) + 1
    roots = {}
    for sid in by_id:
        cur, seen = by_id[sid], set()
        while cur["parent"] in by_id and cur["id"] not in seen:
            seen.add(cur["id"])
            cur = by_id[cur["parent"]]
        roots[sid] = cur
    return selfs, counts, roots


def _union_within(lo, hi, intervals):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in intervals if min(hi, b) > max(lo, a))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_layer(raw):
    """Per-layer metrics of a traced run: counters are means per warm pass,
    jvm.* are the cold pass's, streaming.* are means per run of the
    streaming probe, conf leaks count the whole run, and span self times are
    per warm pass over spans whose root request ran warm."""
    counters = raw["counters"]
    warm_ids = [str(p["pass"]) for p in raw["passes"][1:]]
    n = max(1, len(warm_ids))

    def warm_mean(key):
        return sum(counters.get(p, {}).get(key, 0.0) for p in warm_ids) / n

    out = {}
    for name, unit in COUNTER_LAYERS:
        if name.startswith("codegen."):
            val = sum(p["jvm"][name] for p in raw["passes"][1:]) / n
        elif name == "memo.bytes":
            val = warm_mean("memo.bytes_mb")
        elif name.startswith("streaming."):
            val = counters.get(PROBE_PASS, {}).get(name, 0.0) / PROBE_RUNS
        elif name == "exec.peak_exec_mem_mb":
            val = max([counters.get(p, {}).get(name, 0.0) for p in warm_ids] or [0.0])
        else:
            val = warm_mean(name)
        out[name] = (val, unit)
    out["queries.conf_leaks"] = (float(len(raw["conf_leaks"])), "count")
    hits, builds = warm_mean("memo.hits"), warm_mean("memo.builds")
    out["memo.hit_ratio"] = (hits / (hits + builds) if hits + builds else 0.0, "ratio")
    trig = raw["stream_trigger_ms"].get(PROBE_PASS, [])
    out["streaming.trigger_p50_ms"] = (percentile(trig, 50)[0] if trig else 0.0, "ms")
    out["streaming.trigger_max_ms"] = (max(trig) if trig else 0.0, "ms")
    cold = raw["passes"][0]["jvm"]
    for name, unit in COLD_LAYERS:
        out[name] = (cold[name], unit)
    for k in KERNELS:
        out[f"functions.{k}.rows_per_s"] = (raw["kernels"][f"functions.{k}.rows_per_s"], "rows/s")
    warm_set = set(warm_ids)
    selfs, _, roots = self_times(raw["spans"])
    warm_spans = [s for s in raw["spans"]
                  if roots[s["id"]].get("attrs", {}).get("pass") in warm_set
                  or s["kind"] == "functions.kernel"]
    wself, _, _ = self_times(warm_spans) if warm_spans else ({}, {}, {})
    for k in SPAN_KINDS:
        out[f"self.{k}_s"] = (wself.get(k, 0.0) / n, "s")
    probe_spans = [s for s in raw["spans"] if s["kind"] == "streaming.trigger"]
    out["self.streaming.trigger_s"] = (
        sum(s["end"] - s["start"] for s in probe_spans) / 1e9 / PROBE_RUNS, "s")
    e2e, _ = end_to_end(raw)
    out["trace.warm_pass_s"] = (e2e["warm_pass_s"][0], "s")
    return out
