"""End-to-end benchmark of the graft Spark engine.

Usage (from the repository root):
  python3 e2ebench/run.py --workload {olap_mix,curate,stream_events} \
      --seed N --seconds S --trace {0,1}

Builds the program with the benchmark (build.py), generates the workload's
inputs from the seed (gen.py), runs one JVM that sets up, warms up and
measures the workload (src/e2ebench/Main.scala), checks every output
(checks.py) and prints two JSON lines: a report with every named metric,
the traffic properties and the host calibration probes, then the result
line {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end set, with --trace 1 the per-layer set.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("olap_mix", "curate", "stream_events")
DEADLINE_S = 170  # the whole run, build excluded
JVM_OPTS = ["-Xmx3g"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(cp, workload, data, work, seconds, trace, chunk_plan, deadline):
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(work, "index"))
    cpu0 = cpu_times()
    spawn_ms = int(time.time() * 1000)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "e2ebench.Main",
           workload, data, work, str(seconds), str(trace), str(spawn_ms), chunk_plan, out]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("e2ebench: the benchmark JVM ran past the deadline")
    cpu1 = cpu_times()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        raise SystemExit(f"e2ebench: the benchmark JVM exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    d = [b - a for a, b in zip(cpu0, cpu1)]
    res["host_steal_frac"] = d[7] / sum(d) if sum(d) else 0.0
    return res


def cpu_times():
    """The machine's cumulative CPU jiffies (/proc/stat); the steal share
    of a run shows how much a shared host held the benchmark back."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def per_op(x, n):
    return x / n if n else 0.0


def end_to_end(workload, res):
    """The end-to-end metrics of one untraced run, plus this workload's own
    named metrics for the report."""
    ok = [s["ms"] for s in res.get("samples", []) if s["ok"] and not s["traced"]]
    named = {}
    # a workload whose every operation failed reports 0 (and correct: false)
    if workload == "olap_mix":
        t = M.timing(ok)
        named["query_ms"] = t
        p50 = t["p50"] or 0.0
        tput = 1000.0 * len(ok) / sum(ok) if ok else 0.0
        named["queries_per_s"] = tput
    elif workload == "curate":
        t = M.timing(ok)
        named["pipeline_ms"] = t
        p50 = t["p50"] or 0.0
        tput = res["docs_in"] / (p50 / 1000.0) if p50 else 0.0
        named["docs_per_s"] = tput
    else:
        # open loop: a chunk's latency lasts until the last of the three
        # queries committed it. It moves with the host far more than the
        # closed loop does, so it is reported here, not gated.
        by_chunk = {}
        for x in res["latency"]:
            by_chunk[x["chunk"]] = max(by_chunk.get(x["chunk"], x["ms"]), x["ms"])
        named["latency_ms"] = M.timing(list(by_chunk.values()))
        for q in ("tumble", "trigger", "join"):
            named[f"latency_p50_ms.{q}"] = M.median([x["ms"] for x in res["latency"] if x["query"] == q])
        # closed loop: a chunk's latency from add to the last commit
        closed = [c for c in res["closed"] if c["ok"] and not c["traced"]]
        named["closed_chunk_ms"] = M.timing([c["ms"] for c in closed])
        p50 = named["closed_chunk_ms"]["p50"] or 0.0
        tput = M.median([c["events"] / (c["ms"] / 1000.0) for c in closed]) or 0.0
        named["events_per_s"] = tput
    e2e = {"setup_s": res["setup_s"], "op_p50_ms": p50, "throughput_per_s": tput}
    return e2e, named


def per_layer(workload, res, work, facts, cores):
    spans = res["spans"]
    spans = spans + M.split_prefix(spans, res.get("sql_execs", []))
    spans = M.attach(spans)
    selfs = M.self_times(spans)
    roots = [s for s in spans if s["name"] == "op"]
    n = len(roots)
    wall = sum(s["end"] - s["start"] for s in roots)
    c = res["counters"]
    out = {k: per_op(c.get(k, 0.0), n) for k in M.COUNTERS}

    def span_ms(*names):
        return per_op(sum(s["end"] - s["start"] for s in spans if s["name"] in names), n)

    by_layer = {}
    for s in spans:
        if s["name"] != "op":
            by_layer[M.layer_of(s["name"])] = by_layer.get(M.layer_of(s["name"]), 0.0) + selfs[s["id"]]
    root_self = sum(selfs[s["id"]] for s in roots)
    out["self.op_ms"] = per_op(root_self, n)
    for layer in M.LAYERS:
        out[f"self.{layer}_ms"] = per_op(by_layer.get(layer, 0.0), n)
    out["trace.layer_cover_frac"] = 1.0 - root_self / wall if wall else 0.0
    out["exec.core_util"] = c.get("exec.task_ms", 0.0) / (wall * cores) if wall else 0.0
    out["driver.build_ms"] = span_ms("driver.build")
    out["sources.write_ms"] = span_ms("sources.write")
    shards = os.path.join(work, "shards")
    runs = [d for d in os.listdir(shards) if d != "run--1"] if os.path.isdir(shards) else []  # not the warm-up
    out["sources.write_bytes"] = per_op(sum(dir_bytes(os.path.join(shards, d)) for d in runs), len(runs))
    out["IndexTables.builds"] = res["index_builds"]
    out["IndexTables.build_ms"] = res["index_build_ms"]
    out["ops.curation.gate_ms"] = span_ms("ops.curation.gate")
    out["ops.dedup.exact_ms"] = span_ms("ops.dedup.exact")
    out["ops.dedup.near_ms"] = span_ms("ops.dedup.near")
    out["ops.decontam_ms"] = span_ms("ops.decontam.lexical", "ops.decontam.sem")
    out["ops.packing.pack_ms"] = span_ms("ops.packing.pack")
    stages = facts.get("stage_counts", {})
    out["ops.curation.pass_ratio"] = (stages["s2_quality"] / stages["s1_raw"]
                                      if stages.get("s1_raw") else 0.0)
    pairs = res.get("pairs") or {}
    out["ops.dedup.candidate_pairs"] = pairs.get("candidate_pairs", 0)
    out["ops.dedup.pair_precision"] = (pairs["confirmed_pairs"] / pairs["candidate_pairs"]
                                       if pairs.get("candidate_pairs") else 0.0)
    out["ops.packing.fill_ratio"] = (facts["packed_tokens"] / (facts["shards"] * facts["pack_budget"])
                                     if facts.get("shards") else 0.0)
    out.update(streaming_layer(res))
    out["rss_peak_mb"] = res["rss_peak_mb"]
    # overhead: traced against untraced operations of this same process
    # (closed-loop stream chunks all have one size, so their times compare)
    samples = res.get("samples") or [dict(c, op="chunk") for c in res.get("closed", [])]
    overhead = []
    for op in sorted({s["op"] for s in samples}):
        tr = [s["ms"] for s in samples if s["op"] == op and s["traced"] and s["ok"]]
        un = [s["ms"] for s in samples if s["op"] == op and not s["traced"] and s["ok"]]
        if tr and un:
            overhead.append(M.median(tr) / M.median(un))
    out["trace.overhead_frac"] = M.median(overhead) - 1.0 if overhead else 0.0
    return out


def streaming_layer(res):
    prog = res.get("progress") or {}
    batches = [b for bs in prog.values() for b in bs if b["rows"] > 0]

    def mean(f):
        return sum(f(b) for b in batches) / len(batches) if batches else 0.0
    return {
        "streaming.batch_ms_p50": M.median([b["duration"].get("triggerExecution", 0) for b in batches]) or 0.0,
        "streaming.add_batch_ms": mean(lambda b: b["duration"].get("addBatch", 0)),
        "streaming.plan_ms": mean(lambda b: b["duration"].get("queryPlanning", 0)),
        "streaming.wal_ms": mean(lambda b: b["duration"].get("walCommit", 0) + b["duration"].get("commitOffsets", 0)),
        "streaming.state_rows": sum(max((b["state_rows"] for b in bs), default=0) for bs in prog.values()),
        "streaming.state_mem_bytes": sum(max((b["state_mem_bytes"] for b in bs), default=0) for bs in prog.values()),
        "streaming.state_commit_ms": mean(lambda b: b["state_commit_ms"]),
        "streaming.rows_dropped_late": sum(b["dropped_late"] for bs in prog.values() for b in bs),
        "streaming.backlog_rows": res.get("open_backlog_rows", 0),
        "streaming.gen_late_ms": M.median(res.get("gen_late_ms") or [0.0]),
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)

    cp = build.build()
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(BENCH, ".work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        t0 = time.monotonic()
        props = gen.generate(a.workload, a.seed, a.seconds, data)
        gen_s = time.monotonic() - t0
        open_chunks = props.get("open_chunks", 0)
        chunk_plan = f"{props.get('warm_chunks', 0)}:{open_chunks}:{gen.CHUNK_INTERVAL_MS}"
        res = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, chunk_plan, deadline)

        t0 = time.monotonic()
        failures = list(res["failures"])
        facts = {}
        extra = {}
        if a.workload == "olap_mix":
            failures += checks.olap(data, os.path.join(work, "out"), res["oracle_sql"])
        elif a.workload == "curate":
            facts = res.get("checks") or {}
            bad, extra = checks.curate(data, os.path.join(work, "out"), facts)
            failures += bad
        else:
            extra = {"output_rows": res.get("output_rows")}
        check_s = time.monotonic() - t0

        samples = res.get("samples") or [dict(c, op="chunk") for c in res["closed"]]
        attempted, failed = M.failures_to_failed(a.workload, samples, failures)
        if a.workload == "stream_events":
            # each open-loop chunk is an operation too; it fails with the stream
            attempted += open_chunks
            failed += open_chunks if failures else 0
        e2e, named = end_to_end(a.workload, res)
        if a.trace:
            values = per_layer(a.workload, res, work, facts, res["cores"])
            units = M.PER_LAYER
        else:
            values = e2e
            units = M.END_TO_END
        report = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "named": dict(named, setup_s=res["setup_s"], failed_frac=failed / attempted,
                          rss_peak_mb=res["rss_peak_mb"]),
            "traffic": props, "checks": extra, "failures": failures,
            "calibration_sec": res["calibration_sec"], "calibration_par_sec": res["calibration_par_sec"],
            "host_steal_frac": res["host_steal_frac"],
            "gen_s": gen_s, "check_s": check_s, "cores": res["cores"],
            "measured_s": res.get("measured_s"), "rounds": res.get("rounds"),
        }
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}}
        print(json.dumps(report, default=str))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
