"""Metric arithmetic: percentiles with the sample-support rule, span self
times, failure accounting, and the end-to-end / per-layer metric sets."""
import math
import statistics

END_TO_END = {  # name -> unit; every workload reports all of them
    "setup_s": "s",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

PER_LAYER = {  # name -> unit; every traced run reports all of them
    "sources.scan_ms": "ms", "sources.scan_bytes": "B",
    "sources.write_ms": "ms", "sources.write_bytes": "B",
    "driver.build_ms": "ms", "driver.plan_ms": "ms", "driver.jobs": "count",
    "driver.sched_delay_ms": "ms", "driver.checkpoint_jobs": "count",
    "driver.checkpoint_ms": "ms",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.tasks": "count", "exec.gc_ms": "ms",
    "exec.core_util": "ratio", "exec.single_task_stage_ms": "ms",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_bytes": "B",
    "functions.kernel_stage_ms": "ms", "functions.kernel_rows": "count",
    "Par.fan_exchanges": "count",
    "IndexTables.builds": "count", "IndexTables.build_ms": "ms",
    "ops.curation.gate_ms": "ms", "ops.curation.pass_ratio": "ratio",
    "ops.dedup.exact_ms": "ms", "ops.dedup.near_ms": "ms",
    "ops.dedup.candidate_pairs": "count", "ops.dedup.pair_precision": "ratio",
    "ops.decontam_ms": "ms",
    "ops.packing.pack_ms": "ms", "ops.packing.fill_ratio": "ratio",
    "streaming.batch_ms_p50": "ms", "streaming.add_batch_ms": "ms",
    "streaming.plan_ms": "ms", "streaming.wal_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "B",
    "streaming.state_commit_ms": "ms", "streaming.rows_dropped_late": "count",
    "streaming.backlog_rows": "count", "streaming.gen_late_ms": "ms",
    "self.op_ms": "ms", "self.driver_ms": "ms", "self.exec_ms": "ms",
    "self.sources_ms": "ms", "self.ops_ms": "ms", "self.streaming_ms": "ms",
    "trace.layer_cover_frac": "ratio", "trace.overhead_frac": "ratio",
    "rss_peak_mb": "MB",
}

# Counters summed by the listeners over the traced operations
COUNTERS = ["sources.scan_ms", "sources.scan_bytes", "driver.plan_ms", "driver.jobs",
            "driver.sched_delay_ms", "driver.checkpoint_jobs", "driver.checkpoint_ms",
            "exec.task_ms", "exec.cpu_ms", "exec.tasks", "exec.gc_ms",
            "exec.single_task_stage_ms", "shuffle.write_bytes", "shuffle.read_bytes",
            "shuffle.fetch_wait_ms", "shuffle.spill_bytes", "functions.kernel_stage_ms",
            "functions.kernel_rows", "Par.fan_exchanges"]

LAYERS = ["driver", "exec", "sources", "ops", "streaming"]

# recipePrefixDecisions materializes its stages in this order
PREFIX_STAGES = ["ops.curation.gate", "ops.dedup.exact", "ops.dedup.near", "ops.decontam.lexical"]

TAIL_SUPPORT = 10  # samples a percentile needs beyond it


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, q):
    """Nearest-rank percentile, reported only when at least TAIL_SUPPORT
    samples lie beyond it; returns (value or None, samples beyond)."""
    n = len(xs)
    if n == 0:
        return None, 0
    rank = max(1, math.ceil(q * n))
    beyond = n - rank
    if beyond < TAIL_SUPPORT:
        return None, beyond
    return sorted(xs)[rank - 1], beyond


def timing(xs, unit="ms"):
    """A timing as the guide asks: median, the p90 where supported, count."""
    p90, beyond = percentile(xs, 0.9)
    out = {"p50": median(xs), "n": len(xs), "unit": unit}
    if p90 is not None:
        out["p90"] = p90
        out["beyond_p90"] = beyond
    return out


def _covered(start, end, intervals):
    """Length of [start, end] covered by the union of intervals."""
    clipped = sorted((max(start, a), min(end, b)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
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


def attach(spans):
    """Give every derived span (parent -1) the innermost recorded span that
    contains its start; derived spans outside any recorded span are dropped."""
    explicit = [s for s in spans if s["parent"] != -1]
    out = list(explicit)
    for s in spans:
        if s["parent"] != -1:
            continue
        holders = [e for e in explicit if e["start"] <= s["start"] <= e["end"]]
        if holders:
            inner = min(holders, key=lambda e: e["end"] - e["start"])
            out.append(dict(s, parent=inner["id"]))
    return out


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. Returns {span id: self ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - _covered(s["start"], s["end"], kids.get(s["id"], []))
            for s in spans}


def split_prefix(spans, sql_execs):
    """Split each recipePrefixDecisions span into its four materialized
    stages. The stage of a SQL execution is the recipePrefixDecisions frame
    of its call site; stages follow each other, so stage k ends where its
    last execution ends. Returns new child spans."""
    out = []
    next_id = max((s["id"] for s in spans), default=0) + 1
    for p in (s for s in spans if s["name"] == "ops.curation.prefix"):
        inside = sorted((e for e in sql_execs if p["start"] <= e["start"] <= p["end"]),
                        key=lambda e: e["start"])
        groups = []
        for e in inside:
            frame = next((ln for ln in e["site"].splitlines() if "recipePrefixDecisions(" in ln), None)
            if frame is None:
                continue
            if not groups or groups[-1][0] != frame:
                groups.append((frame, []))
            groups[-1][1].append(e)
        if len(groups) != len(PREFIX_STAGES):
            continue
        start = p["start"]
        for k, (name, (_, execs)) in enumerate(zip(PREFIX_STAGES, groups)):
            end = p["end"] if k == len(groups) - 1 else max(e["end"] for e in execs)
            out.append({"id": next_id, "name": name, "parent": p["id"], "run": p["run"],
                        "start": start, "end": end})
            next_id += 1
            start = end
    return out


def layer_of(name):
    return name.split(".")[0]


def failures_to_failed(workload, samples, failures):
    """Operations that threw or whose output failed a check. For olap_mix a
    failure belongs to its query (`q`, `warmup:q` or `dump:q`); for the
    pipeline workloads any failure invalidates every operation, because each
    one computes the same output."""
    attempted = len(samples)
    if workload == "olap_mix":
        bad = {f["op"].split(":", 1)[-1] for f in failures}
        failed = sum(1 for s in samples if not s["ok"] or s["op"] in bad)
    else:
        failed = attempted if failures else sum(1 for s in samples if not s["ok"])
    return attempted, failed
