"""Per-layer metrics of a traced run.

Every metric is a value per pass, summed over the pass's ops unless its
name says otherwise (a ratio, a rate or a maximum), and reported as the
median over the traced passes. Counters come from the harness's Spark
listener (jobs, stages, tasks) and from the executed plans of the timed
actions (SQL metrics); see perfbench/README.md for the definitions."""
import statistics

# name -> unit, in the order they are printed
METRICS = {
    "driver.build_s": "s",
    "driver.build_jobs": "count",
    "driver.gate_ops_build_jobs": "count",
    "driver.plan_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.task_overhead_s": "s",
    "scheduler.unowned_s": "s",
    "scan.bytes": "bytes",
    "scan.records": "count",
    "scan.files": "count",
    "scan.time_s": "s",
    "scan.read_frac": "ratio",
    "functions.shingleHashes.rows_per_s": "rows/s",
    "functions.minhashSig.rows_per_s": "rows/s",
    "functions.simhash63.rows_per_s": "rows/s",
    "functions.polyFingerprint.rows_per_s": "rows/s",
    "functions.winnowFps.rows_per_s": "rows/s",
    "functions.cosine.rows_per_s": "rows/s",
    "functions.gzip64_gunzip64.rows_per_s": "rows/s",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_write_records": "count",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.fetch_wait_s": "s",
    "exchange.shuffle_write_s": "s",
    "exchange.broadcast_bytes": "bytes",
    "exchange.broadcast_build_s": "s",
    "exchange.reduce_skew": "ratio",
    "operators.run_s": "s",
    "operators.cpu_s": "s",
    "operators.spill_bytes": "bytes",
    "operators.peak_exec_mem_mb": "MB",
    "operators.join_build_rows": "count",
    "operators.join_build_s": "s",
    "operators.topk_rows_in": "count",
    "operators.topk_rows_out": "count",
    "operators.partial_agg_ratio": "ratio",
    "write.bytes": "bytes",
    "write.records": "count",
    "write.s": "s",
    "streaming.batches": "count",
    "streaming.processed_rows_per_s": "rows/s",
    "streaming.records_per_s": "records/s",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "jvm.setup_jit_s": "s",
    "trace.overhead_s": "s",
}

# counters reduced by maximum over a pass's ops instead of by sum
MAXED = {"exchange.reduce_skew", "operators.peak_exec_mem_mb"}
# the joins behind the Bloom-shed gate (Relational.bloomShedBig)
GATE_OPS = {"q03_shipping_priority", "q04_semi_join", "q42_returned_top_customers"}


def _covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0, lo
    for a, b in cut:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def unowned_s(spans):
    """Per pass: action wall time not covered by any running stage (the
    action span's self time in the run -> pass -> op -> action -> job ->
    stage tree), in seconds."""
    job_owner = {s["name"]: s["parent"] for s in spans if s["kind"] == "job"}
    stages = {}
    for s in spans:
        if s["kind"] == "stage" and s["parent"] in job_owner:
            stages.setdefault(job_owner[s["parent"]], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        if s["kind"] == "action":
            p = int(s["name"].split("/")[0])
            length = s["end_ms"] - s["start_ms"]
            cover = _covered(s["start_ms"], s["end_ms"], stages.get(s["name"], []))
            out[p] = out.get(p, 0.0) + (length - cover) / 1e3
    return out


def per_pass(raw, p, unowned):
    sums, maxes = {}, {}
    for c in raw["counters"]:
        if c["pass"] != p:
            continue
        for k, v in c["values"].items():
            if k in MAXED:
                maxes[k] = max(maxes.get(k, 0.0), v)
            else:
                sums[k] = sums.get(k, 0.0) + v
            if k == "driver.build_jobs" and c["op"] in GATE_OPS:
                sums["driver.gate_ops_build_jobs"] = sums.get("driver.gate_ops_build_jobs", 0.0) + v
    attempts = [a for a in raw["attempts"] if a["pass"] == p]
    stream_s = sum(a["act_s"] for a in attempts if a["op"] == "wiretap_stream")
    g = sums.get
    m = {k: g(k, 0.0) for k in METRICS if k in sums}
    m.update(maxes)
    m["driver.build_s"] = sum(a["build_s"] for a in attempts)
    m["scheduler.unowned_s"] = unowned.get(p, 0.0)
    # only ops whose every scan has a file-source plan node know the
    # at-rest size of what they read (V2 and RDD scans do not)
    read = rest = 0.0
    for c in raw["counters"]:
        v = c["values"]
        if c["pass"] == p and v.get("scan.rest_bytes"):
            read += v.get("scan.bytes", 0.0)
            rest += v["scan.rest_bytes"]
    m["scan.read_frac"] = read / rest if rest else 0.0
    rows_in = g("operators.partial_agg_rows_in", 0.0)
    m["operators.partial_agg_ratio"] = g("operators.partial_agg_rows_out", 0.0) / rows_in if rows_in else 0.0
    trig = g("streaming.trigger_ms", 0.0)
    m["streaming.processed_rows_per_s"] = g("streaming.rows", 0.0) / (trig / 1e3) if trig else 0.0
    m["streaming.records_per_s"] = g("streaming.rows", 0.0) / stream_s if stream_s else 0.0
    pinfo = next(x for x in raw["passes"] if x["pass"] == p)
    m["jvm.gc_s"] = pinfo["gc_s"]
    m["jvm.jit_s"] = pinfo["jit_s"]
    return m


def per_layer(raw):
    """{metric: (value, unit)} for every metric in METRICS."""
    traced = [p["pass"] for p in raw["passes"] if p["kind"] == "traced"]
    untraced = [p["s"] for p in raw["passes"] if p["kind"] == "timed"]
    unowned = unowned_s(raw["spans"])
    rows = [per_pass(raw, p, unowned) for p in traced]
    out = {}
    for k, unit in METRICS.items():
        vals = [r.get(k, 0.0) for r in rows]
        out[k] = (statistics.median(vals) if vals else 0.0, unit)
    for name, rate in raw.get("functions", {}).items():
        out["functions.%s.rows_per_s" % name] = (rate, "rows/s")
    out["jvm.setup_jit_s"] = (raw["setup_jit_s"], "s")
    traced_s = [p["s"] for p in raw["passes"] if p["kind"] == "traced"]
    if traced_s and untraced:
        out["trace.overhead_s"] = (statistics.median(traced_s) - statistics.median(untraced), "s")
    return out
