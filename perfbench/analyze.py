"""Turn the harness's raw report into the benchmark's metrics.

End-to-end metrics come from an untraced run, per-layer metrics from a
traced one (see BENCH.md for every name, unit and prediction). Per-layer
sums are divided by the number of traced passes, so they read per pass, like
`pass_s`. Spark events are attributed to an op by their start time falling
in the op's window, which is exact because one op runs at a time.
"""
import statistics

from stats import clip, in_window, percentile, self_time, union_length

# the modules the benchmark's workloads call (run.py's MODULE_OF)
MODULES = ("dedup", "text", "similarity", "warehouse", "meta", "mapper",
           "streaming")


def trace_overhead(passes):
    """Cost of the tracing work per pass, from (traced, wall_s) in run
    order: plain, traced, plain, ..., ending on a plain pass. Each traced
    pass is set against the mean of its two plain neighbours, which cancels
    a JIT gain that is steady from pass to pass; the median over the traced
    passes is the result. None when no traced pass has two neighbours."""
    diffs = [w - (passes[i - 1][1] + passes[i + 1][1]) / 2
             for i, (t, w) in enumerate(passes)
             if t and 0 < i < len(passes) - 1
             and not passes[i - 1][0] and not passes[i + 1][0]]
    return statistics.median(diffs) if diffs else None


def op_wall_ns(op):
    return op["build_ns"] + op["plan_ns"] + op["sink_ns"]


def end_to_end(rep, ok_names):
    """setup, pass, percentile, CPU and heap metrics of an untraced run.
    Only executions of queries in `ok_names` yield latencies."""
    walls = [op_wall_ns(o) / 1e9 for o in rep["ops"] if o["name"] in ok_names]
    p50, p50_beyond, p50_met = percentile(walls, 0.5)
    p90, p90_beyond, p90_met = percentile(walls, 0.9)
    passes = rep["passes"]
    metrics = {
        "setup_s": ((rep["first_op_ms"] - rep["process_start_ms"]) / 1e3, "s"),
        "pass_s": (statistics.median(p["wall_ns"] for p in passes) / 1e9, "s"),
        "query_p50_s": (p50, "s"),
        "cpu_s": (statistics.median(p["cpu_ns"] for p in passes) / 1e9, "s"),
        "live_heap_mb": (rep["live_heap_bytes"] / 2**20, "MiB"),
    }
    # a run holds 15-30 executions: enough for ten samples above the median,
    # far from the hundred p90 needs, so p90 is recorded but not a metric
    samples = {"passes": len(passes), "query_executions": len(walls),
               "query_p50_beyond": p50_beyond, "query_p50_rule_met": p50_met,
               "query_p90_s": p90, "query_p90_beyond": p90_beyond,
               "query_p90_rule_met": p90_met}
    return metrics, samples


def _windows(op):
    """Epoch-ms windows of an op and its build, plan and sink phases."""
    s = op["start_ms"]
    b = s + op["build_ns"] / 1e6
    p = b + op["plan_ns"] / 1e6
    e = p + op["sink_ns"] / 1e6
    return {"op": (s, e), "build": (s, b), "plan": (b, p), "sink": (p, e)}


def per_layer(rep, modules, cores):
    """Per-layer metrics of a traced run; `modules` maps query -> module."""
    traced = [o for o in rep["ops"] if o["traced"]]
    n_tp = max(1, sum(1 for p in rep["passes"] if p["traced"]))
    cols = rep["stage_cols"]
    stages = [dict(zip(cols, s)) for s in rep["stages"]]
    jobs = [(j[1], j[2]) for j in rep["jobs"]]
    acc = dict.fromkeys((
        "build_s", "build_jobs", "plan_s", "exchanges", "broadcasts", "codegen",
        "wall_s", "gap_s", "jobs", "stages", "tasks", "sched_s", "run_s",
        "cpu_s", "gc_s", "spill", "job_union_s", "longest_s", "single_s",
        "sh_w", "sh_r", "sh_rows", "in_b", "in_rows", "write_s", "out_b",
        "out_rows", "files", "self_build", "self_plan", "self_exec",
        "self_write", "self_job", "self_stage"), 0.0)
    batches = []
    for op in traced:
        w = _windows(op)
        ojobs = [j for j in jobs if in_window(j[0], w["op"])]
        ost = [s for s in stages if in_window(s["submit_ms"], w["op"])]
        ospans = [(s["submit_ms"], s["end_ms"]) for s in ost]
        acc["build_s"] += op["build_ns"] / 1e9
        acc["build_jobs"] += sum(1 for j in ojobs if in_window(j[0], w["build"]))
        acc["plan_s"] += op["plan_ns"] / 1e9
        for q in rep["sql"]:
            if in_window(q["start_ms"], w["op"]):
                acc["exchanges"] += q["exchanges"]
                acc["broadcasts"] += q["broadcasts"]
                acc["codegen"] += q["codegen"]
        wall_ms = w["op"][1] - w["op"][0]
        job_ms = union_length(clip(ojobs, w["op"]))
        acc["wall_s"] += wall_ms / 1e3
        acc["gap_s"] += (wall_ms - job_ms) / 1e3
        acc["job_union_s"] += job_ms / 1e3
        acc["jobs"] += len(ojobs)
        acc["stages"] += len(ost)
        for s in ost:
            acc["tasks"] += s["tasks"]
            acc["sched_s"] += s["sched_delay_ms"] / 1e3
            acc["run_s"] += s["run_ms"] / 1e3
            acc["cpu_s"] += s["cpu_ns"] / 1e9
            acc["gc_s"] += s["gc_ms"] / 1e3
            acc["spill"] += s["spill_bytes"]
            acc["sh_w"] += s["sh_write_bytes"]
            acc["sh_r"] += s["sh_read_bytes"]
            acc["sh_rows"] += s["sh_write_rows"]
            acc["in_b"] += s["in_bytes"]
            acc["in_rows"] += s["in_rows"]
            acc["out_b"] += s["out_bytes"]
            acc["out_rows"] += s["out_rows"]
            dur = (s["end_ms"] - s["submit_ms"]) / 1e3
            acc["self_stage"] += dur
            if s["tasks"] == 1:
                acc["single_s"] += dur
        acc["longest_s"] += max(((s["end_ms"] - s["submit_ms"]) / 1e3
                                 for s in ost), default=0.0)
        # exec runs from the sink call to its last job's end; the rest of
        # the sink call is the write commit on the driver
        sink = w["sink"]
        exec_end = max((e for _, e in clip(ojobs, sink)), default=sink[1])
        acc["write_s"] += (sink[1] - exec_end) / 1e3
        acc["files"] += op["files"]
        acc["self_build"] += self_time(w["build"], ojobs) / 1e3
        acc["self_plan"] += self_time(w["plan"], ojobs) / 1e3
        acc["self_exec"] += self_time((sink[0], exec_end), ojobs) / 1e3
        acc["self_write"] += self_time((exec_end, sink[1]), ojobs) / 1e3
        acc["self_job"] += sum(self_time(j, ospans) for j in ojobs) / 1e3
        batches += [b for b in rep["batches"] if in_window(b["start_ms"], w["op"])]

    def d(b, k):
        return b["durations"].get(k, 0)

    trig = [d(b, "triggerExecution") for b in batches]
    overhead = trace_overhead([(p["traced"], p["wall_ns"] / 1e9)
                               for p in rep["passes"]])
    module_s = dict.fromkeys(MODULES, 0.0)
    for op in rep["ops"]:  # tracing work (the forced plan) left out
        mod = modules[op["name"]]
        if mod in module_s:
            module_s[mod] += (op["build_ns"] + op["sink_ns"]) / 1e9
    n_pass = max(1, len(rep["passes"]))
    slot_base = acc["job_union_s"] * cores

    m = {
        "queries.build_s": (acc["build_s"], "s"),
        "queries.build_jobs": (acc["build_jobs"], "count"),
        "plan.plan_s": (acc["plan_s"], "s"),
        "plan.exchanges": (acc["exchanges"], "count"),
        "plan.broadcasts": (acc["broadcasts"], "count"),
        "plan.codegen_stages": (acc["codegen"], "count"),
        "exec.wall_s": (acc["wall_s"], "s"),
        "exec.driver_gap_s": (acc["gap_s"], "s"),
        "exec.jobs": (acc["jobs"], "count"),
        "exec.stages": (acc["stages"], "count"),
        "exec.tasks": (acc["tasks"], "count"),
        "exec.scheduler_delay_s": (acc["sched_s"], "s"),
        "exec.task_run_s": (acc["run_s"], "s"),
        "exec.task_cpu_s": (acc["cpu_s"], "s"),
        "exec.gc_s": (acc["gc_s"], "s"),
        "exec.spill_bytes": (acc["spill"], "bytes"),
        "exec.slot_busy_ratio": (acc["run_s"] / slot_base if slot_base else 0.0, "ratio"),
        "exec.slot_busy_base_s": (slot_base, "s"),
        "exec.longest_stage_s": (acc["longest_s"], "s"),
        "exec.single_task_stage_s": (acc["single_s"], "s"),
        "shuffle.write_bytes": (acc["sh_w"], "bytes"),
        "shuffle.read_bytes": (acc["sh_r"], "bytes"),
        "shuffle.records": (acc["sh_rows"], "count"),
        "sources.input_bytes": (acc["in_b"], "bytes"),
        "sources.input_rows": (acc["in_rows"], "count"),
        "sources.write_s": (acc["write_s"], "s"),
        "sources.output_bytes": (acc["out_b"], "bytes"),
        "sources.output_files": (acc["files"], "count"),
        "sources.output_rows": (acc["out_rows"], "count"),
        "streaming.batches": (len(batches), "count"),
        "streaming.batch_p50_ms": (percentile(trig, 0.5)[0] or 0, "ms"),
        "streaming.batch_p90_ms": (percentile(trig, 0.9)[0] or 0, "ms"),
        "streaming.add_batch_s": (sum(d(b, "addBatch") for b in batches) / 1e3, "s"),
        "streaming.planning_s": (sum(d(b, "queryPlanning") for b in batches) / 1e3, "s"),
        "streaming.get_offset_s": (sum(d(b, "latestOffset") + d(b, "getOffset")
                                       for b in batches) / 1e3, "s"),
        "streaming.wal_commit_s": (sum(d(b, "walCommit") for b in batches) / 1e3, "s"),
        "streaming.commit_offsets_s": (sum(d(b, "commitOffsets") for b in batches) / 1e3, "s"),
        "streaming.state_commit_s": (sum(b["state_commit_ms"] for b in batches) / 1e3, "s"),
        "streaming.state_rows": (max((b["state_rows"] for b in batches), default=0), "count"),
        "streaming.state_mem_bytes": (max((b["state_mem_bytes"] for b in batches), default=0), "bytes"),
        "self.build_s": (acc["self_build"], "s"),
        "self.plan_s": (acc["self_plan"], "s"),
        "self.exec_s": (acc["self_exec"], "s"),
        "self.write_s": (acc["self_write"], "s"),
        "self.job_s": (acc["self_job"], "s"),
        "self.stage_s": (acc["self_stage"], "s"),
    }
    # per traced pass, except ratios, maxima and percentiles
    whole = {"exec.slot_busy_ratio", "streaming.batch_p50_ms",
             "streaming.batch_p90_ms", "streaming.state_rows",
             "streaming.state_mem_bytes"}
    m = {k: (v if k in whole else v / n_tp, u) for k, (v, u) in m.items()}
    for mod in MODULES:
        m[f"module.{mod}.op_s"] = (module_s[mod] / n_pass, "s")
    m.update({
        "core.session_s": (rep["session_s"] + rep["register_s"], "s"),
        "core.warmup_s": (rep["warmup_s"], "s"),
        "core.quiesce_s": (rep["quiesce_s"] / n_pass, "s"),
        "jvm.jit_s": (rep["jit_setup_s"], "s"),
        "jvm.gc_pause_s": (sum(p["gc_ms"] for p in rep["passes"]) / 1e3 / n_pass, "s"),
        "trace.overhead_s": (overhead, "s"),
    })
    # below zero, the recording cost is smaller than pass-to-pass noise
    samples = {"traced_passes": n_tp,
               "plain_passes": sum(1 for p in rep["passes"] if not p["traced"]),
               "trace_overhead_below_noise": overhead < 0,
               "streaming_batches": len(batches),
               "batch_p90_beyond": percentile(trig, 0.9)[1]}
    return m, samples
