"""Pure metric arithmetic: percentiles, span self time, metric records."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name):
    return bool(NAME_RE.match(name))


def tail(samples):
    """The highest integer percentile q in [50, 99] with at least ten
    samples beyond it, as ``(q, value)`` with nearest-rank percentiles.

    With fewer than 20 samples no such percentile exists and the maximum
    is reported as percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for q in range(99, 49, -1):
        rank = max(1, math.ceil(q * n / 100))
        if n - rank >= 10:
            return q, xs[rank - 1]
    return 100, xs[-1]


def self_times(spans):
    """Per span id: its duration minus the part of it that its direct
    children cover (overlapping children are merged first)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        ivs = sorted((max(lo, c["start_s"]), min(hi, c["end_s"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def by_layer(spans):
    """Sum self time, span count and tagged jobs per span name."""
    st = self_times(spans)
    layers = {}
    for s in spans:
        e = layers.setdefault(s["name"], {"self_s": 0.0, "n": 0, "jobs": 0})
        e["self_s"] += st[s["id"]]
        e["n"] += 1
        e["jobs"] += s.get("jobs", 0)
    return layers


def end_to_end(rec, meta, setup_gen_s):
    """The end-to-end metrics of one untraced run record."""
    ops = rec["op_s"]
    q, tail_v = tail(ops)
    wall = rec["wall_s"]
    metrics = {
        "setup_s": statistics.median(setup_gen_s) + rec["session_ready_s"],
        "wall_s": wall,
        "rows_per_s": meta["input_rows"] / wall,
        "op_p50_s": statistics.median(ops),
        "op_tail_s": tail_v,
        "cpu_s": rec["cpu_s"],
        "max_rss_mb": rec["max_rss_mb"],
    }
    return metrics, {"tail_percentile": q, "op_count": len(ops)}


def per_layer(rec, base_wall_s, meta):
    """The per-layer metrics of one traced run record. Layers a workload
    does not reach read 0."""
    layers = by_layer(rec.get("spans", []))
    c = rec.get("counters", {})
    info = rec.get("info", {})
    mb = 1048576.0

    def self_s(name):
        return layers.get(name, {}).get("self_s", 0.0)

    def jobs(name):
        return layers.get(name, {}).get("jobs", 0)

    def ratio(num, den):
        return num / den if den else 0.0

    task_s = c.get("task_ms", 0) / 1e3
    match_s = self_s("pipeline.match")
    pairs_scored = meta.get("pairs_scored", 0)
    m = {
        "SparkEntry.build_s": self_s("SparkEntry.build"),
        "SparkEntry.build_jobs": jobs("SparkEntry.build"),
        "catalyst.analysis_s": c.get("analysis_ms", 0) / 1e3,
        "catalyst.optimization_s": c.get("optimization_ms", 0) / 1e3,
        "catalyst.planning_s": c.get("planning_ms", 0) / 1e3,
        "catalyst.aqe_replans": c.get("aqe_replans", 0),
        "codegen.compiles": c.get("codegen_compiles", 0),
        "codegen.compile_s": c.get("codegen_compile_ms_x1000", 0) / 1e6,
        "scheduler.jobs": c.get("jobs", 0),
        "scheduler.stages": c.get("stages", 0),
        "scheduler.tasks": c.get("tasks", 0),
        "scheduler.task_s": task_s,
        "scheduler.task_cpu_s": c.get("cpu_ns", 0) / 1e9,
        "scheduler.delay_s": c.get("delay_ms", 0) / 1e3,
        "scheduler.gc_s": c.get("gc_ms", 0) / 1e3,
        "scheduler.busy_ratio": ratio(task_s, rec["wall_s"] * rec["cores"]),
        "shuffle.write_mb": c.get("shuffle_write_b", 0) / mb,
        "shuffle.read_mb": c.get("shuffle_read_b", 0) / mb,
        "shuffle.fetch_wait_s": c.get("fetch_wait_ms", 0) / 1e3,
        "shuffle.spill_mb": c.get("spill_b", 0) / mb,
        "blockmanager.pinned_mb": rec["pinned_mb"],
        "blockmanager.pinned_blocks": rec["pinned_blocks"],
        "Tables.input_mb": c.get("input_b", 0) / mb,
        "sink.output_mb": c.get("output_b", 0) / mb,
        "pipeline.clean_s": self_s("pipeline.clean"),
        "pipeline.match_s": match_s,
        "Cascade.n_rule": info.get("n_rule", 0),
        "Cascade.n_fuzzy": info.get("n_fuzzy", 0),
        "Cascade.n_llm": info.get("n_llm", 0),
        "Cascade.fuzzy_accept_ratio": ratio(info.get("n_fuzzy", 0),
                                            meta.get("fuzzy_candidates", 0)),
        "functions.pairs_scored": pairs_scored,
        "functions.ns_per_pair": ratio(match_s * 1e9, pairs_scored),
        "MatchStrategy.calls": info.get("strategy_calls", 0),
        "MatchStrategy.accept_ratio": ratio(info.get("strategy_accepts", 0),
                                            info.get("strategy_calls", 0)),
        "Dedup.lsh_s": self_s("Dedup.lsh"),
        "Dedup.pairs": info.get("pairs", 0),
        "Dedup.prepare_s": self_s("Dedup.prepare"),
        "Dedup.screen_s": self_s("Dedup.screen"),
        "Dedup.absorb_s": self_s("Dedup.absorb"),
        "Dedup.novel_ratio": ratio(info.get("novel", 0),
                                   meta.get("ingest_docs", 0)),
        "Components.resolve_s": self_s("Components.resolve"),
        "Components.jobs": jobs("Components.resolve"),
        "Sampling.split_s": self_s("Sampling.split"),
        "Sampling.jobs": jobs("Sampling.split"),
        "trace.wall_s": rec["wall_s"],
        "trace.overhead_s": rec["wall_s"] - base_wall_s,
    }
    return m
