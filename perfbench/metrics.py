"""Metric names and the arithmetic that turns a run record into them.

End-to-end metrics come from the untraced ops; per-layer metrics from the
spans, jobs and stages a traced run records. Everything here is pure
Python over the record, so it is unit-tested without Spark.
"""
import statistics

END_TO_END = {
    # name: (unit, better)
    "throughput_rows_s": ("rows/s", "higher"),
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "ok_ops_frac": ("frac", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}

# Each span is a call into one public function of a module, named
# <module>.<function>. Which workload calls it is in README.md.
SPANS = [
    "queries.q01_pricing_summary", "queries.q04_multiway_join",
    "queries.q15_window_rank", "queries.q18_topk",
    "queries.q34_sessionization", "plans.q_asof_join",
    "operators.q_salted_join", "queries.q30_exact_dedup",
    "dedup.nearDuplicates", "dedup.connectedComponents", "queries.q_simhash",
    "similarity.AnnIvf.fit", "similarity.AnnIvf.search",
    "tuner.Tuner.overhead", "tuner.MetricsStore.history",
]
SPAN_FIELDS = {
    # suffix: (unit, better)
    "s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "driver_gap_s": ("s", "lower"),
}
COUNTERS = {
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "host.non_self_cpu": ("cores", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.pairs_kept": ("count", "higher"),
    "dedup.rerank_yield": ("ratio", "higher"),
    "dedup.cc_rounds": ("count", "lower"),
    "similarity.probed_rows_per_query": ("rows", "lower"),
    "core.index_files": ("count", "lower"),
    "core.index_bytes_per_input_byte": ("ratio", "lower"),
    "tuner.store_runs": ("count", "higher"),
    "tuner.partitions_last": ("count", "lower"),
    "tuner.iters_to_plateau": ("count", "lower"),
    "bench.trace_overhead_frac": ("frac", "lower"),
}


def per_layer_names():
    names = {f"{s}.{f}": u for s in SPANS for f, u in SPAN_FIELDS.items()}
    names.update(COUNTERS)
    return names


def union_ms(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is not None and s <= cur_e:
            cur_e = max(cur_e, e)
        else:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail(latencies):
    """The 90th percentile, interpolated between order statistics, as
    (value, percentile, samples). A run makes tens of ops, too few for a
    percentile with ten samples beyond it to lie above the median."""
    xs = sorted(latencies)
    if len(xs) == 1:
        return xs[0], 90.0, 1
    return statistics.quantiles(xs, n=10, method="inclusive")[-1], 90.0, len(xs)


def stage_owners(jobs):
    """Stage id -> span id. A stage listed by several jobs ran in the first
    of them; later jobs reuse its shuffle output and skip it."""
    owner = {}
    for j in sorted(jobs, key=lambda j: j["job"]):
        for s in j["stages"]:
            owner.setdefault(s, j["span"])
    return owner


def span_stats(record):
    """Per span: wall, self time, own jobs, own stages, shuffle bytes and
    driver gap. Driver gap is self time minus the union of the span's own
    stage intervals (clipped to the span), so overlapping stages are
    counted once."""
    spans = record["spans"]
    stages = {}
    for st in record["stages"]:
        stages.setdefault(st["stage"], []).append(st)
    owner = stage_owners(record["jobs"])
    own_stages = {}
    for sid, span in owner.items():
        own_stages.setdefault(span, []).extend(stages.get(sid, []))
    jobs = {}
    for j in record["jobs"]:
        jobs[j["span"]] = jobs.get(j["span"], 0) + 1
    child_ms = {}
    for sp in spans:
        if sp["parent"]:
            child_ms[sp["parent"]] = child_ms.get(sp["parent"], 0.0) + \
                sp["end_ms"] - sp["start_ms"]
    out = []
    for sp in spans:
        wall = sp["end_ms"] - sp["start_ms"]
        self_ms = wall - child_ms.get(sp["id"], 0.0)
        mine = own_stages.get(sp["id"], [])
        busy = union_ms([(max(s["submit_ms"], sp["start_ms"]),
                          min(s["complete_ms"], sp["end_ms"])) for s in mine])
        out.append(dict(
            name=sp["name"], op=sp["op"], self_s=self_ms / 1e3,
            jobs=jobs.get(sp["id"], 0), stages=len(mine),
            shuffle_bytes=sum(s["shuffle_write_bytes"] for s in mine),
            driver_gap_s=max(0.0, self_ms - busy) / 1e3))
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def task_skew(stages):
    """max / median task duration in the widest stage (most tasks, then
    longest)."""
    cands = [s for s in stages if s["task_ms"]]
    if not cands:
        return 0.0
    w = max(cands, key=lambda s: (len(s["task_ms"]), s["complete_ms"] - s["submit_ms"]))
    return max(w["task_ms"]) / max(1.0, statistics.median(w["task_ms"]))


def non_self_cpu(record, clk_tck):
    """Average cores kept busy by everything except this JVM during the
    timed loop: /proc/stat busy ticks (hypervisor steal included) minus
    the JVM's own ticks."""
    c = record["cpu"]
    busy = c["end"]["host_busy"] - c["start"]["host_busy"]
    own = c["end"]["self"] - c["start"]["self"]
    return max(0.0, (busy - own) / clk_tck / record["wall_s"])


def steal_cpu(record, clk_tck):
    """Average cores the hypervisor took away during the timed loop."""
    c = record["cpu"]
    return (c["end"]["steal"] - c["start"]["steal"]) / clk_tck / record["wall_s"]


def trace_overhead(ops):
    """Traced vs untraced ops of the same run, compared only within one op
    kind and one state (the tuner's knobs): per such group the ratio of
    median latencies, minus one. Returns the median over groups and the
    number of groups."""
    groups = {}
    for o in ops:
        g = groups.setdefault((o["kind"], o.get("state", "")), ([], []))
        g[0 if o["traced"] else 1].append(o["latency_s"])
    ratios = [statistics.median(on) / statistics.median(off) - 1.0
              for on, off in groups.values() if on and off]
    return _median(ratios), len(ratios)


def per_layer(record, clk_tck):
    stats = span_stats(record)
    values = {}
    for name in SPANS:
        mine = [s for s in stats if s["name"] == name]
        values[f"{name}.s"] = _median([s["self_s"] for s in mine])
        values[f"{name}.jobs"] = _median([s["jobs"] for s in mine])
        values[f"{name}.stages"] = _median([s["stages"] for s in mine])
        values[f"{name}.shuffle_bytes"] = _median([s["shuffle_bytes"] for s in mine])
        values[f"{name}.driver_gap_s"] = _median([s["driver_gap_s"] for s in mine])
    owner = stage_owners(record["jobs"])
    traced = [s for s in record["stages"] if s["stage"] in owner]
    n_traced = max(1, sum(1 for o in record["ops"] if o["traced"]))
    values["spark.spill_bytes"] = sum(s["spill_bytes"] for s in traced) / n_traced
    values["spark.gc_s"] = sum(s["gc_ms"] for s in traced) / 1e3 / n_traced
    values["spark.executor_cpu_s"] = sum(s["cpu_ns"] for s in traced) / 1e9 / n_traced
    values["spark.task_skew"] = task_skew(traced)
    values["host.non_self_cpu"] = non_self_cpu(record, clk_tck)
    c = record["counters"]
    for k in COUNTERS:
        if k in c:
            values[k] = float(c[k])
    cands = c.get("dedup.candidate_pairs", 0.0)
    values["dedup.rerank_yield"] = c.get("dedup.pairs_kept", 0.0) / cands if cands else 0.0
    values["bench.trace_overhead_frac"] = trace_overhead(record["ops"])[0]
    names = per_layer_names()
    return {k: {"value": float(values.get(k, 0.0)), "unit": names[k][0]}
            for k in names}


def end_to_end(record, ok, setup_s):
    """`ok` holds one boolean per timed op: it completed and its answer
    checked out."""
    ops = record["ops"]
    lat = [o["latency_s"] for o in ops]
    busy = sum(lat)
    value, pct, n = tail(lat)
    values = {
        "throughput_rows_s": sum(o["input_rows"] for o, good in zip(ops, ok) if good) / busy,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": value,
        "ok_ops_frac": sum(ok) / len(ok),
        "peak_rss_mb": record["peak_rss_kb"] / 1024.0,
        "setup_s": setup_s,
    }
    metrics = {k: {"value": float(v), "unit": END_TO_END[k][0]} for k, v in values.items()}
    return metrics, {"tail_percentile": pct, "samples": n}
