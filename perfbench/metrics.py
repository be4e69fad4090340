"""Metric arithmetic for the benchmark: percentiles, span self time, event
attribution and the per-layer roll-up of a traced run.

Pure functions over the JSON the JVM harness writes, so they are tested
without Spark (tests/test_metrics.py).
"""
import math
import statistics

# ------------------------------------------------------------ end to end
# (name, unit); GATED are BENCHMARK.json's end_to_end metrics.
END_TO_END = [
    ("setup_s", "s"),
    ("throughput_per_s", "units/s"),
    ("op_p50_s", "s"),
    ("peak_heap_mb", "MB"),
    ("written_bytes_per_input_byte", "ratio"),
    ("op_p90_s", "s"),
    ("failed_ratio", "ratio"),
]
GATED = ["setup_s", "throughput_per_s", "op_p50_s", "peak_heap_mb",
         "written_bytes_per_input_byte"]

MIN_BEYOND = 10


def reportable(p, n):
    """True when at least MIN_BEYOND of n samples lie beyond percentile p."""
    return n * (100 - p) / 100 >= MIN_BEYOND


def percentile(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def end_to_end(result, failed_ops):
    """The seven end-to-end metrics of one untraced run, as
    {name: (value, unit, samples)}; op_p90_s only with >= 100 ops."""
    ops = result["ops"]
    lat = [(o["t1"] - o["t0"]) / 1e9 for o in ops]
    ok_units = sum(o["units"] for o in ops if o["id"] not in failed_ops)
    setup = [s[0] for s in result["setup"]]
    m = {
        "setup_s": (statistics.median(setup), len(setup)),
        "throughput_per_s": (ok_units / sum(lat), len(ops)),
        "op_p50_s": (statistics.median(lat), len(ops)),
        "peak_heap_mb": (result["peak_heap_mb"], result["heap_samples"]),
        "failed_ratio": (len(failed_ops) / len(ops), len(ops)),
        "written_bytes_per_input_byte": (
            result["written_bytes"] / result["input_bytes"], 1),
    }
    if reportable(90, len(ops)):
        m["op_p90_s"] = (percentile(lat, 90), len(ops))
    units = dict(END_TO_END)
    return {k: (v, units[k], n) for k, (v, n) in m.items()}


# --------------------------------------------------------------- spans
def union_length(intervals, lo=None, hi=None):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    iv = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}.
    Children may overlap each other (concurrent streaming triggers)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(
        [(c["t0"], c["t1"]) for c in kids.get(s["id"], [])], s["t0"], s["t1"])
        for s in spans}


def innermost(spans, t):
    """The span open at time t that started last, or None."""
    best = None
    for s in spans:
        if s["t0"] <= t <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
            best = s
    return best


# ------------------------------------------------------------- per layer
def _s(name, unit="s"):
    return (name, unit)


PER_LAYER = [
    _s("core.session_s"), _s("core.warmup_s"), _s("core.base_state_s"),
    _s("queries.bind_s"), _s("queries.bind_jobs", "count"),
    _s("queries.dupClusters_s"), _s("queries.semanticDedup_s"),
    _s("queries.maintainIvfPqIndex_s"), _s("queries.probeIvfPqIndex_s"),
    _s("queries.index_touched_cells", "count"),
    _s("queries.index_bytes", "bytes"),
    _s("queries.index_recall_at_5", "ratio"),
    _s("queries.cc_clusters", "count"),
    _s("operators.exactGroups_s"), _s("operators.nearDupVerdicts_s"),
    _s("operators.incrementalVerdicts_s"),
    _s("operators.ledger_bytes", "bytes"),
    _s("operators.dups_flagged", "count"),
    _s("spark.analysis_ms", "ms"), _s("spark.optimization_ms", "ms"),
    _s("spark.planning_ms", "ms"), _s("spark.query_executions", "count"),
    _s("exec.jobs", "count"), _s("exec.stages", "count"),
    _s("exec.tasks", "count"), _s("exec.task_run_s"), _s("exec.task_cpu_s"),
    _s("exec.gc_s"), _s("exec.shuffle_read_bytes", "bytes"),
    _s("exec.shuffle_write_bytes", "bytes"), _s("exec.spill_bytes", "bytes"),
    _s("exec.input_bytes", "bytes"), _s("exec.output_bytes", "bytes"),
    _s("exec.result_bytes", "bytes"), _s("exec.driver_only_s"),
    _s("exec.busy_ratio", "ratio"),
    _s("streaming.triggers", "count"), _s("streaming.trigger_s"),
    _s("streaming.add_batch_s"), _s("streaming.latest_offset_s"),
    _s("streaming.query_planning_s"), _s("streaming.wal_commit_s"),
    _s("streaming.input_rows", "count"), _s("streaming.protocol_s"),
    _s("streaming.start_stop_s"), _s("streaming.overlap_s"),
    _s("pipeline.convert_s"), _s("pipeline.extract_s"),
    _s("pipeline.clean_s"), _s("pipeline.crop_s"),
    _s("pipeline.pages", "count"), _s("pipeline.rows_clean", "count"),
    _s("pipeline.rows_quarantined", "count"), _s("pipeline.crops", "count"),
    _s("pipeline.clean_yield", "ratio"),
    _s("pipeline.files_written", "count"),
    _s("pipeline.bytes_written.interim", "bytes"),
    _s("pipeline.bytes_written.silver", "bytes"),
    _s("pipeline.bytes_written.clean", "bytes"),
    _s("pipeline.bytes_written.shr", "bytes"),
    _s("pipeline.bytes_written.ckpt", "bytes"),
    _s("pipeline.clean_rewrite_bytes", "bytes"),
    _s("trace.harness_s"), _s("trace.unspanned_s"), _s("trace.overhead_s"),
    _s("trace.op_p50_s"),
]
# reported once per run, not per op
RUN_ONLY = {"core.session_s", "core.warmup_s", "core.base_state_s",
            "trace.op_p50_s"}
# gauges: the run value is the last op's; recall is averaged
GAUGES = {"queries.index_bytes", "operators.ledger_bytes"}
MEANS = {"queries.index_recall_at_5"}
# ratios: the run value is numerator total / denominator total
RATIOS = {"exec.busy_ratio": ("exec.task_run_s", "_capacity_s"),
          "pipeline.clean_yield": ("pipeline.rows_clean",
                                   "pipeline.products_emitted")}


def per_layer_names():
    """Every per-layer metric name a traced run prints, with its unit."""
    out = []
    for name, unit in PER_LAYER:
        out.append((name, unit))
        if name not in RUN_ONLY:
            out.append((name + ".op_p50", unit))
    return out


def op_layers(result):
    """{op id: {metric: value}} from a traced run's spans, events and op
    stats. Events are attributed by time to the op whose interval holds
    them, and within it to the innermost open span."""
    spans = result["trace"]["spans"]
    events = result["trace"]["events"]
    selfs = self_times(spans)
    cores = result["cores"]
    ops = {o["id"]: o for o in result["ops"]}
    out = {i: {} for i in ops}

    def add(i, k, v):
        out[i][k] = out[i].get(k, 0.0) + v

    def op_at(t):
        for i, o in ops.items():
            if o["t0"] <= t <= o["t1"]:
                return i
        return None

    by_op = {i: [s for s in spans if s["op"] == i and
                 ops[i]["t0"] <= s["t0"] <= ops[i]["t1"]] for i in ops}
    job_t0, job_t1, job_op, job_span = {}, {}, {}, {}
    for e in events:
        if e["k"] == "job_start":
            job_t0[e["job"]] = e["t"]
            i = op_at(e["t"])
            if i is not None:
                job_op[e["job"]] = i
                sp = innermost(by_op[i], e["t"])
                job_span[e["job"]] = sp["name"] if sp else ""
        elif e["k"] == "job_end":
            job_t1[e["job"]] = e["t"]
    for j, i in job_op.items():
        add(i, "exec.jobs", 1)
        if job_span[j].endswith(".bind"):
            add(i, "queries.bind_jobs", 1)
    for e in events:
        k = e["k"]
        if k == "stage" and e["job"] in job_op:
            i = job_op[e["job"]]
            add(i, "exec.stages", 1)
            add(i, "exec.tasks", e["tasks"])
            add(i, "exec.task_run_s", e["run_ms"] / 1e3)
            add(i, "exec.task_cpu_s", e["cpu_ns"] / 1e9)
            add(i, "exec.gc_s", e["gc_ms"] / 1e3)
            for src, dst in (("shuffle_read", "shuffle_read_bytes"),
                             ("shuffle_write", "shuffle_write_bytes"),
                             ("spill", "spill_bytes"), ("input", "input_bytes"),
                             ("output", "output_bytes"),
                             ("result", "result_bytes")):
                add(i, "exec." + dst, e[src])
        elif k == "qe":
            i = op_at(e["t"])
            if i is not None:
                add(i, "spark.query_executions", 1)
                for ph in ("analysis", "optimization", "planning"):
                    add(i, f"spark.{ph}_ms", e[f"{ph}_ms"])
        elif k == "trigger" and e["op"] in out:
            i, d = e["op"], e["dur"]
            add(i, "streaming.triggers", 1)
            add(i, "streaming.input_rows", e["rows"])
            for src, dst in (("triggerExecution", "trigger_s"),
                             ("addBatch", "add_batch_s"),
                             ("latestOffset", "latest_offset_s"),
                             ("queryPlanning", "query_planning_s"),
                             ("walCommit", "wal_commit_s")):
                add(i, "streaming." + dst, d.get(src, 0) / 1e3)
            add(i, f"pipeline.{e['stage']}_s", d.get("addBatch", 0) / 1e3)
            if e["stage"] == "extract":
                add(i, "pipeline.pages", e["rows"])
    for i, o in ops.items():
        m = out[i]
        wall = (o["t1"] - o["t0"]) / 1e9
        m["_capacity_s"] = wall * cores
        m.update(o["stats"])
        jobs = [(job_t0[j], job_t1.get(j, o["t1"])) for j, ji in job_op.items()
                if ji == i]
        m["exec.driver_only_s"] = wall - union_length(jobs, o["t0"], o["t1"]) / 1e9
        m["exec.busy_ratio"] = m.get("exec.task_run_s", 0.0) / m["_capacity_s"]
        m["streaming.protocol_s"] = (m.get("streaming.trigger_s", 0.0)
                                     - m.get("streaming.add_batch_s", 0.0))
        for s in by_op[i]:
            dur = (s["t1"] - s["t0"]) / 1e9
            name = s["name"]
            if name.endswith(".bind"):
                add(i, "queries.bind_s", dur)
            elif name.count(".") == 1 and name.split(".")[0] in (
                    "queries", "operators"):
                add(i, name + "_s", dur)
            elif name == "op":
                add(i, "trace.unspanned_s", selfs[s["id"]] / 1e9)
            elif name.startswith("bench."):
                add(i, "trace.harness_s", dur)
            elif name.startswith("trace."):
                add(i, "trace.overhead_s", dur)
            elif name == "pipeline.runDag":
                trig = [(c["t0"], c["t1"]) for c in by_op[i]
                        if c["parent"] == s["id"]]
                add(i, "streaming.start_stop_s", selfs[s["id"]] / 1e9)
                add(i, "streaming.overlap_s", (
                    sum(b - a for a, b in trig)
                    - union_length(trig, s["t0"], s["t1"])) / 1e9)
        if m.get("pipeline.products_emitted"):
            m["pipeline.clean_yield"] = (m.get("pipeline.rows_clean", 0.0)
                                         / m["pipeline.products_emitted"])
    return out


def per_layer(result):
    """Every PER_LAYER metric of a traced run: the run value under its own
    name and the per-op median under `<name>.op_p50`; zero where the
    workload does not reach the layer."""
    ops = op_layers(result)
    setup = result["setup"]
    vals = {}
    for name, _ in PER_LAYER:
        if name in RUN_ONLY:
            continue
        series = [m.get(name, 0.0) for m in ops.values()]
        vals[name + ".op_p50"] = statistics.median(series) if series else 0.0
        if name in GAUGES:
            vals[name] = series[-1] if series else 0.0
        elif name in MEANS:
            vals[name] = statistics.mean(series) if series else 0.0
        elif name in RATIOS:
            num, den = RATIOS[name]
            d = sum(m.get(den, 0.0) for m in ops.values())
            vals[name] = sum(m.get(num, 0.0) for m in ops.values()) / d if d else 0.0
        else:
            vals[name] = sum(series)
    for k, idx in (("core.session_s", 1), ("core.warmup_s", 2),
                   ("core.base_state_s", 3)):
        vals[k] = statistics.median(s[idx] for s in setup)
    vals["trace.op_p50_s"] = statistics.median(
        (o["t1"] - o["t0"]) / 1e9 for o in result["ops"])
    units = dict(per_layer_names())
    return {k: (vals[k], units[k]) for k, _ in per_layer_names()}
