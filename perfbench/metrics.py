"""Pure helpers of the lane benchmark: percentiles, job-interval union,
metric-name grammar, and the reduction of lane records to metrics."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MB = 1024.0 * 1024.0


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def tail_percentile(values, q, beyond=10):
    """The q-th percentile of `values`, or the highest percentile below it
    that still has `beyond` samples above it. Returns (value, percentile
    used, sample count); value is None for fewer than `beyond` samples.
    Interpolates linearly between order statistics."""
    xs = sorted(values)
    n = len(xs)
    if n < beyond:
        return None, None, n
    p = min(q, 1.0 - beyond / n)
    pos = p * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), p, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def lane_median_sum(samples):
    """Sum over lanes of each lane's median sample time."""
    by_lane = {}
    for s in samples:
        by_lane.setdefault(s["lane"], []).append(s["wall_s"])
    return sum(statistics.median(v) for v in by_lane.values())


def end_to_end(setups, samples, jvm):
    """End-to-end metrics from the setup times, the lane samples and the
    JVM record of one run, and the warm sample count with the highest lane
    percentile that count supports (value, percentile, count)."""
    cold = [s for s in samples if s["kind"] == "cold"]
    warm = [s for s in samples if s["kind"] == "warm" and not s["traced"]]
    walls = [s["wall_s"] for s in warm]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": (sum(s["wall_s"] for s in cold), "s"),
        "warm_pass_s": (lane_median_sum(warm), "s"),
        "lane_p50_s": (statistics.median(walls), "s"),
        "live_heap_mb": (jvm["live_heap_mb"], "MB"),
    }, {"warm_samples": len(walls), "lane_tail": tail_percentile(walls, 0.99)}


def per_layer(samples, jvm, host):
    """Per-layer metrics of a traced run, and a check of the job-time
    attribution: counters are means per traced warm pass; `codegen.cold_*`
    come from the cold pass."""
    traced = [s for s in samples if s["kind"] == "warm" and s["traced"]]
    untraced = [s for s in samples if s["kind"] == "warm" and not s["traced"]]
    cold = [s for s in samples if s["kind"] == "cold"]
    n_pass = max(1, len({s["pass"] for s in traced}))
    cpus = host["cpus"]

    def tot(key, xs=traced):
        return sum(s.get(key, 0) for s in xs)

    def per_pass(key, scale=1.0):
        return tot(key) * scale / n_pass

    busy = [union_length(s["job_intervals"], s["start_ms"], s["end_ms"]) / 1e3
            for s in traced]
    walls = [s["wall_s"] for s in traced]
    # driver-only time from the same millisecond clock as the job intervals
    windows = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in traced]
    outside = sum(union_length(s["job_intervals"]) / 1e3 for s in traced) - sum(busy)
    driver_only = [w - b for w, b in zip(windows, busy)]
    ops = lambda k: sum(s["ops"].get(k, 0.0) for s in traced) / n_pass
    batches = [b for s in traced for b in s["batch_ms"]]
    trigger_s = sum(batches) / 1e3 / n_pass
    rules_runs = tot("graft_rule_runs")
    skews = [k for s in traced for k in s["stage_skews"]]
    run_s = per_pass("task_run_ms", 1e-3)
    cpu_s = per_pass("task_cpu_ns", 1e-9)
    wall_s = sum(walls) / n_pass
    m = {
        "entry.build_s": (per_pass("build_s"), "s"),
        "entry.execute_s": (sum(s["wall_s"] - s["build_s"] for s in traced) / n_pass, "s"),
        "entry.build_jobs": (per_pass("build_jobs"), "count"),
        "entry.cache_left_lanes": (sum(1 for s in traced if s["cache_left_bytes"] > 0) / n_pass, "count"),
        "entry.cache_left_mb": (per_pass("cache_left_bytes", 1 / MB), "MB"),
        "catalyst.queries": (per_pass("queries"), "count"),
        "catalyst.analysis_s": (per_pass("analysis_ms", 1e-3), "s"),
        "catalyst.optimization_s": (per_pass("optimization_ms", 1e-3), "s"),
        "catalyst.planning_s": (per_pass("planning_ms", 1e-3), "s"),
        "catalyst.graft_rule_s": (per_pass("graft_rule_ns", 1e-9), "s"),
        "catalyst.graft_rule_effective_ratio": (tot("graft_rule_effective") / rules_runs if rules_runs else 0.0, "ratio"),
        "codegen.cold_compiles": (tot("compiles", cold), "count"),
        "codegen.cold_compile_s": (tot("compile_ns", cold) * 1e-9, "s"),
        "codegen.warm_compiles": (per_pass("compiles"), "count"),
        "codegen.warm_compile_s": (per_pass("compile_ns", 1e-9), "s"),
        "sched.jobs": (per_pass("jobs"), "count"),
        "sched.stages": (per_pass("stages"), "count"),
        "sched.tasks": (per_pass("tasks"), "count"),
        "sched.job_busy_s": (sum(busy) / n_pass, "s"),
        "sched.driver_only_s": (sum(driver_only) / n_pass, "s"),
        "sched.slot_busy_frac": (run_s / (cpus * wall_s) if wall_s else 0.0, "ratio"),
        "exec.task_run_s": (run_s, "s"),
        "exec.task_cpu_s": (cpu_s, "s"),
        "exec.task_wait_s": (run_s - cpu_s, "s"),
        "exec.gc_s": (per_pass("gc_ms", 1e-3), "s"),
        "exec.stage_skew_p90": (tail_percentile(skews, 0.9)[0] or 0.0, "ratio"),
        "exec.task_failures": (per_pass("task_failures"), "count"),
        "exec.input_mb": (per_pass("input_bytes", 1 / MB), "MB"),
        "exec.input_rows": (per_pass("input_rows"), "count"),
        "shuffle.write_mb": (per_pass("shuffle_write_bytes", 1 / MB), "MB"),
        "shuffle.read_mb": (per_pass("shuffle_read_bytes", 1 / MB), "MB"),
        "shuffle.fetch_wait_s": (per_pass("fetch_wait_ms", 1e-3), "s"),
        "shuffle.spill_mb": (per_pass("spill_bytes", 1 / MB), "MB"),
        "op.wscg_ms": (ops("wscg_ms"), "ms"),
        "op.agg_build_ms": (ops("agg_build_ms"), "ms"),
        "op.sort_ms": (ops("sort_ms"), "ms"),
        "op.exchange_write_ms": (ops("exchange_write_ms"), "ms"),
        "op.scan_ms": (ops("scan_ms"), "ms"),
        "op.broadcast_build_ms": (ops("broadcast_build_ms"), "ms"),
        "op.broadcast_mb": (ops("broadcast_bytes") / MB, "MB"),
        "stream.batches": (len(batches) / n_pass, "count"),
        "stream.input_rows": (per_pass("stream_input_rows"), "count"),
        "stream.trigger_s": (trigger_s, "s"),
        "stream.add_batch_s": (per_pass("add_batch_ms", 1e-3), "s"),
        "stream.query_planning_s": (per_pass("query_planning_ms", 1e-3), "s"),
        "stream.wal_commit_s": (per_pass("wal_commit_ms", 1e-3), "s"),
        "stream.commit_offsets_s": (per_pass("commit_offsets_ms", 1e-3), "s"),
        "stream.batch_p50_ms": (statistics.median(batches) if batches else 0.0, "ms"),
        "stream.batch_p90_ms": (tail_percentile(batches, 0.9)[0] or 0.0, "ms"),
        "stream.rows_per_s": (per_pass("stream_input_rows") / trigger_s if trigger_s else 0.0, "1/s"),
        "state.commit_s": (per_pass("state_commit_ms", 1e-3), "s"),
        "state.rows_total": (per_pass("state_rows"), "count"),
        "state.mem_mb": (per_pass("state_mem_bytes", 1 / MB), "MB"),
        "state.rows_dropped_late": (per_pass("state_dropped_late"), "count"),
        "jvm.peak_rss_mb": (jvm["peak_rss_mb"], "MB"),
        "jvm.jit_s": (jvm["jit_s"], "s"),
        "jvm.classes_loaded": (jvm["classes_loaded"], "count"),
        "jvm.code_cache_mb": (jvm["code_cache_mb"], "MB"),
        "jvm.heap_after_gc_mb": (jvm["heap_after_gc_mb"], "MB"),
        "host.cpus": (cpus, "count"),
        "host.steal_pct": (host["steal_pct"], "%"),
        "host.iowait_pct": (host["iowait_pct"], "%"),
        "host.calib_ms": (host["calib_ms"], "ms"),
        "trace.warm_pass_s": (lane_median_sum(traced), "s"),
        "trace.overhead_s": (lane_median_sum(traced) - lane_median_sum(untraced), "s"),
    }
    # job time plus driver-only time against the nanosecond lane wall times
    # (a check of the attribution), and job time outside any lane window
    info = {"wall_accounted_frac": (sum(busy) + sum(driver_only)) / sum(walls) if walls else None,
            "job_s_outside_lanes": outside}
    return m, info
