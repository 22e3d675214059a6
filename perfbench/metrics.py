"""Statistics for the benchmark: percentiles, tail counts, span self time,
and the end-to-end and per-layer metrics derived from one harness result."""
import math
import statistics

CORES = 4


def percentile(values, p):
    """Linear interpolation between order statistics (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    h = (len(xs) - 1) * p
    lo = math.floor(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (h - lo) * (xs[hi] - xs[lo])


def tail_count(values, p):
    """Samples strictly above the p-th percentile."""
    q = percentile(values, p)
    return sum(1 for v in values if v > q)


def self_times(spans):
    """Self time per span id: its duration minus the union of the intervals
    its direct children cover (children clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0
        cur_start = cur_end = None
        ivs = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                     for c in kids.get(s["id"], []))
        for a, b in ivs:
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out


def pass_throughputs(res):
    """Rows read by the operations that succeeded, per second, for each
    untraced timed pass."""
    rows, secs = {}, {}
    for s in res["samples"]:
        secs[s["pass"]] = secs.get(s["pass"], 0.0) + s["s"]
        rows[s["pass"]] = rows.get(s["pass"], 0.0) + \
            (res["op_rows"][s["op"]] if s["ok"] else 0.0)
    return [rows[p] / secs[p] for p in sorted(secs)]


def end_to_end(res):
    """Metrics a user of the engine sees, from untraced timed passes."""
    lat = [s["s"] for s in res["samples"]]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "rows_per_s": (statistics.median(pass_throughputs(res)), "1/s"),
        "op_p50_s": (percentile(lat, 0.5), "s"),
        "peak_rss_mb": (res["rss_hwm_kb"] / 1024.0, "MB"),
    }


def per_layer(res, spans):
    """Per-layer metrics from the traced passes. Times and counts are means
    per operation of the traced passes; a layer the workload does not enter
    reads 0."""
    traced = res["traced_samples"]
    n_ops = max(len(traced), 1)
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    wall = lambda name: sum(dur(s) for s in by_name.get(name, []))
    query_ops = len(by_name.get("construct", [])) or 1
    rt_ops = len(by_name.get("io.save", [])) or 1

    jobs, stages = {}, {}
    tasks = []
    batches = []
    for p in res["layers"]:
        for k, v in p["jobs"].items():
            jobs[k] = jobs.get(k, 0) + v
        for k, v in p["stages"].items():
            stages[k] = stages.get(k, 0) + v
        tasks += p["tasks"]
        batches += p["batches"]
    ex = [t for t in tasks if t["layer"] == "exec"]
    busy = sum(sum(t["durations_ms"]) for t in ex) / 1e3
    skews = [max(t["durations_ms"]) / statistics.median(t["durations_ms"])
             for t in ex if len(t["durations_ms"]) > 1 and
             statistics.median(t["durations_ms"]) > 0]
    exec_wall = wall("exec")
    op_wall = wall("op")
    selfs = self_times(spans)
    op_self = sum(selfs[s["id"]] for s in by_name.get("op", [])) / 1e9
    b_ms = [b["ms"] / 1e3 for b in batches]
    untraced_rps = sum(res["op_rows"][s["op"]] for s in res["samples"]) / \
        res["untraced_wall_s"]
    traced_rps = sum(res["op_rows"][s["op"]] for s in traced) / \
        max(res["traced_wall_s"], 1e-9)
    mb = 1 / (1024.0 * 1024.0)
    return {
        "entry.construct_s": (wall("construct") / query_ops, "s"),
        "entry.construct_jobs": (jobs.get("construct", 0) / query_ops, "count"),
        "entry.construct_share": (wall("construct") / max(op_wall, 1e-9), "ratio"),
        "fixture.build_s": (sum(res["fixture_build_s"].values()), "s"),
        "setup.cold_s": (res["setup_s"][0], "s"),
        "core.process_s": (wall("core") / rt_ops, "s"),
        "core.process_jobs": (jobs.get("core", 0) / rt_ops, "count"),
        "plan.s": (wall("plan") / query_ops, "s"),
        "plan.share": (wall("plan") / max(op_wall, 1e-9), "ratio"),
        "exec.wall_s": (exec_wall / query_ops, "s"),
        "exec.jobs": (jobs.get("exec", 0) / query_ops, "count"),
        "exec.stages": (stages.get("exec", 0) / query_ops, "count"),
        "exec.tasks": (sum(len(t["durations_ms"]) for t in ex) / query_ops, "count"),
        "exec.task_busy_s": (busy / query_ops, "s"),
        "exec.core_util": (busy / (CORES * exec_wall) if exec_wall else 0.0, "ratio"),
        "exec.shuffle_read_mb": (sum(t["shuffle_read"] for t in ex) * mb / query_ops, "MB"),
        "exec.shuffle_write_mb": (sum(t["shuffle_write"] for t in ex) * mb / query_ops, "MB"),
        "exec.spill_mb": (sum(t["spill"] for t in ex) * mb / query_ops, "MB"),
        "exec.task_skew": (statistics.median(skews) if skews else 1.0, "ratio"),
        "exec.failed_tasks": (sum(t["failed"] for t in tasks), "count"),
        "io.save_s": (wall("io.save") / rt_ops, "s"),
        "io.jobs": (sum(jobs.get(k, 0) for k in ("io.save", "io.load", "io.check"))
                    / rt_ops, "count"),
        "io.load_s": ((wall("io.load") + wall("io.check")) / rt_ops, "s"),
        "io.bytes_written_mb": (res["save_bytes"] * mb, "MB"),
        "io.files_written": (res["save_files"], "count"),
        "io.stored_bytes_per_row": (res["save_bytes"] / res["save_rows"]
                                    if res["save_rows"] else 0.0, "B"),
        "stream.batches": (len(batches) / n_ops, "count"),
        "stream.batch_p50_s": (percentile(b_ms, 0.5) if b_ms else 0.0, "s"),
        "stream.batch_max_s": (max(b_ms) if b_ms else 0.0, "s"),
        "stream.rows_per_batch": (statistics.mean(b["rows"] for b in batches)
                                  if batches else 0.0, "count"),
        "ops.failed_ratio": (sum(1 for s in traced if not s["ok"]) / n_ops, "ratio"),
        "jvm.gc_s": (res["jvm_gc_s"], "s"),
        "jvm.jit_s": (res["jvm_jit_s"], "s"),
        "jvm.old_gen_peak_mb": (res["old_gen_peak_b"] * mb, "MB"),
        "trace.op_self_s": (op_self / n_ops, "s"),
        "trace.overhead": (traced_rps / untraced_rps if untraced_rps else 0.0, "ratio"),
    }
