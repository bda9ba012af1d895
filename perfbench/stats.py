"""Pure metric arithmetic for the benchmark: percentiles with the
ten-beyond rule, span self time, and the metric tables built from one
run's raw records. No I/O here, so every rule is unit-tested.
"""
import math
import statistics

# A tail percentile is reported only with this many samples above it.
TAIL_BEYOND = 10


def nearest_rank(values: list, pct: float) -> float:
    """Nearest-rank percentile: the smallest value with at least pct% of
    the samples at or below it."""
    xs = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[k - 1]


def beyond(n: int, pct: int) -> int:
    """Samples strictly above the nearest-rank pct-th percentile of n."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail(values: list, want: int = 90) -> tuple:
    """(value, percentile used) for the `want`-th percentile. With fewer
    than TAIL_BEYOND samples beyond it, the highest whole percentile that
    has TAIL_BEYOND beyond it is used instead; when that is not above
    the median, the median itself (reported as percentile 50)."""
    n = len(values)
    pct = want
    while pct > 50 and beyond(n, pct) < TAIL_BEYOND:
        pct -= 1
    if pct == 50:
        return statistics.median(values), 50
    return nearest_rank(values, pct), pct


def self_times(spans: list) -> dict:
    """Self time per layer, in seconds: each span's duration minus the
    part of it covered by the union of its children's intervals."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        covered = 0
        cur_a = cur_b = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_us"]):
            ca, cb = max(a, c["start_us"]), min(b, c["end_us"])
            if cb <= ca:
                continue
            if cur_b is None or ca > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = ca, cb
            else:
                cur_b = max(cur_b, cb)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0, b - a - covered) / 1e6
    return out


def rate(amounts: list, walls: list) -> float:
    """Amount per second of wall time in the best pass. The JIT is still
    warming over the first passes after the one warm-up pass (the first
    timed pass of memo_iterative ran 10-40% slower than the last), so the
    best pass is the steady-state rate: over ten seeds its spread was 7%
    of the median against 20% for the median pass."""
    return max(a / w for a, w in zip(amounts, walls))


def end_to_end(pass_walls: list, ok_by_pass: list, rows_by_pass: list,
               attempted: int, failed: int, setups: list) -> tuple:
    """End-to-end metrics and their sample counts.

    ok_by_pass: per pass, the latencies of the ops that completed with
    correct output; rows_by_pass: per pass, the input rows (medallion) or
    result rows carried by those ops. Rates are those of the best pass."""
    ok = [t for p in ok_by_pass for t in p]
    p90, pct = tail(ok) if ok else (float("nan"), 90)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "ops_per_s": (rate([len(p) for p in ok_by_pass], pass_walls), "ops/s"),
        "op_p50_s": (statistics.median(ok) if ok else float("nan"), "s"),
        "op_p90_s": (p90, "s"),
        "rows_per_s": (rate(rows_by_pass, pass_walls), "rows/s"),
        "ok_ratio": (1.0 - failed / attempted, "1"),
    }
    samples = {"setup_s": len(setups), "ops_per_s": len(pass_walls), "op_p50_s": len(ok),
               "op_p90_s": len(ok), "rows_per_s": len(pass_walls), "ok_ratio": attempted}
    return metrics, samples, pct


def per_layer(res: dict, cores: int, untraced_ops_per_s: float) -> dict:
    """Per-layer metrics of a traced run, summed over the traced window."""
    tr = res["traced"]
    ops = [o for o in tr["ops"] if o["error"] is None]

    def total(key):
        return float(sum(o.get(key, 0) or 0 for o in ops))

    def both(key):
        return total("construct_" + key) + total("exec_" + key)

    op_s = sum(o["construct_s"] + o["exec_s"] for o in ops)
    construct_s = total("construct_s")
    task_run = both("task_run_s")
    task_cpu = both("task_cpu_s")
    jobs = both("jobs")
    stream_ops = [o for o in ops if "stream_trigger_ms" in o]
    trigger_s = sum(o["stream_trigger_ms"] for o in stream_ops) / 1000.0
    by_layer = {}
    for o in ops:
        by_layer[o["layer"]] = by_layer.get(o["layer"], 0.0) + o["construct_s"] + o["exec_s"]
    timed = {}
    for o in res["window"]["ops"]:
        if o["error"] is None:
            timed.setdefault(o["name"], []).append(o["construct_s"] + o["exec_s"])
    warm_extra = sum(w["construct_s"] + w["exec_s"] - statistics.median(timed[w["name"]])
                     for w in res["warmup"] if w["error"] is None and w["name"] in timed)
    traced_ops_per_s = rate([sum(1 for o in ops if o["pass"] == p)
                             for p in range(len(tr["pass_walls_s"]))], tr["pass_walls_s"])
    selfs = self_times(tr["spans"])
    mib = 1048576.0
    m = {
        "tables.open_s": (sum(t["s"] for t in tr["tables_open"]), "s"),
        "tables.open_jobs": (sum(t["jobs"] for t in tr["tables_open"]), "count"),
        "ops.construct_s": (construct_s, "s"),
        "ops.construct_jobs": (total("construct_jobs"), "count"),
        "ops.construct_share": (construct_s / op_s if op_s else 0.0, "1"),
        "catalyst.analysis_s": (total("analysis_s"), "s"),
        "catalyst.optimization_s": (total("optimization_s"), "s"),
        "catalyst.planning_s": (total("planning_s"), "s"),
        "exec.s": (total("exec_s"), "s"),
        "exec.jobs": (jobs, "count"),
        "exec.stages": (both("stages"), "count"),
        "exec.tasks": (both("tasks"), "count"),
        "exec.tasks_per_job": (both("tasks") / jobs if jobs else 0.0, "count"),
        "exec.task_run_s": (task_run, "s"),
        "exec.task_cpu_s": (task_cpu, "s"),
        "exec.cpu_share": (task_cpu / task_run if task_run else 0.0, "1"),
        "exec.slot_util": (task_run / (op_s * cores) if op_s else 0.0, "1"),
        "exec.shuffle_write_mb": (both("shuffle_write_bytes") / mib, "MiB"),
        "exec.spill_mb": (both("spill_bytes") / mib, "MiB"),
        "exec.task_gc_s": (both("task_gc_s"), "s"),
        "memo.blk_rdds_warm": (res["memo_warm"][0], "count"),
        "memo.blk_mb_warm": (res["memo_warm"][1], "MiB"),
        "memo.blk_rdds_end": (res["memo_end"][0], "count"),
        "memo.blk_mb_end": (res["memo_end"][1], "MiB"),
        "memo.warmup_extra_s": (warm_extra, "s"),
        "stream.trigger_s": (trigger_s, "s"),
        "stream.harness_s": (sum(o["construct_s"] + o["exec_s"] for o in stream_ops) - trigger_s, "s"),
        "stream.batches": (total("stream_batches"), "count"),
        "stream.state_commit_s": (total("stream_state_commit_ms") / 1000.0, "s"),
        "stream.state_update_s": (total("stream_state_update_ms") / 1000.0, "s"),
        "pipeline.silver_s": (by_layer.get("silver", 0.0), "s"),
        "pipeline.gold_s": (by_layer.get("gold", 0.0), "s"),
        "pipeline.star_s": (by_layer.get("star", 0.0), "s"),
        "pipeline.analysis_s": (by_layer.get("analysis", 0.0), "s"),
        "jdbc.load_s": (by_layer.get("jdbc", 0.0), "s"),
        "sink.bytes_per_input_byte": (
            res["sink_bytes"] / res["bronze_bytes"] if res.get("bronze_bytes") else 0.0, "1"),
        "datagen.gen_s": (res["setups"][0]["gen_s"], "s"),
        "jvm.gc_s": (tr["gc_s"], "s"),
        "jvm.heap_used_mb": (tr["heap_used_mb"], "MiB"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MiB"),
        "trace.ops_per_s": (traced_ops_per_s, "ops/s"),
        "trace.overhead_ops_per_s": (untraced_ops_per_s - traced_ops_per_s, "ops/s"),
        "trace.spans": (len(tr["spans"]), "count"),
    }
    for layer in ("op", "construct", "exec", "catalyst", "job", "stage", "tables"):
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0), "s")
    return m
