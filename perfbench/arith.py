"""The benchmark's own arithmetic: percentiles, job-interval coverage,
span self time, and the per-layer figures derived from a traced pass."""
import math
import statistics


def highest_percentile(values, beyond=10):
    """The highest percentile above the median that still has `beyond`
    samples above it, by nearest rank: p = floor(100 * (1 - beyond / n)).
    Returns (p, value), or None when n samples support no such percentile
    (fewer than 2 * beyond + 1 of them).
    """
    xs = sorted(values)
    n = len(xs)
    p = math.floor(100 * (1 - beyond / n)) if n else 0
    if p <= 50:
        return None
    return p, xs[math.ceil(p * n / 100) - 1]


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
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    its child spans cover.

    `spans` are dicts with id, name, start, end and parent (-1 for a root).
    Returns {name: summed self time} over all spans of that name.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(children.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - covered
    return out


def durations(spans):
    """Summed wall of the spans of each name."""
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def straggler_ratio(stages):
    """Max over stages of (max task time / median task time).

    Stages with fewer than two tasks have no straggler; task times are
    floored at 1 ms so sub-millisecond medians do not blow the ratio up.
    """
    worst = 1.0
    for st in stages:
        ms = [max(t, 1) for t in st["task_ms"]]
        if len(ms) >= 2:
            worst = max(worst, max(ms) / statistics.median(ms))
    return worst


MB = 1048576.0


def timing_rows(timings_csv):
    """{phase: seconds} from the `_timings.csv` text `PerfReport` writes."""
    rows = (r.split(",") for r in timings_csv.strip().split("\n")[1:])
    return {k: int(ms) / 1e3 for k, ms in rows}


def supersteps(rows):
    return [v for k, v in rows.items() if k.startswith("Superstep_")]


def cli_phases(timings_csv, cli_wall):
    """The phase split of one `PageRankMain` call, from the `_timings.csv`
    text it wrote and the wall of the span around it (seconds)."""
    rows = timing_rows(timings_csv)
    ingest, write = rows["Setup"], rows["Cleanup_And_Write"]
    steps = supersteps(rows)
    return {
        "sources.ingest_s": ingest,
        "cli.write_s": write,
        "operators.supersteps": len(steps),
        "operators.superstep_sum_s": sum(steps),
        # wall no row covers: PageRank.run before its first superstep, plus
        # the CLI's report writes
        "operators.pagerank_prologue_s": cli_wall - ingest - write - sum(steps),
        # PageRank.run and the reports: the call minus ingest and write
        "operators.pagerank_run_s": cli_wall - ingest - write,
    }


def neighbour_wall(traced, passes):
    """Mean wall of the untraced passes right before and after the traced
    one: what the traced pass costs without tracing at its point of the run."""
    return statistics.mean(p["wall_s"] for p in passes
                           if abs(p["pass"] - traced["pass"]) == 1)


def layer_metrics(traced, cores, untraced_s, session_build_s, operators_s=None):
    """Per-layer figures of one traced pass (see README.md for each).

    `untraced_s` is the wall the traced pass is compared with;
    `operators_s` the wall inside operator calls when no span measures it
    (the CLI workload), else the summed `operators.*` spans."""
    spans = traced["spans"]
    layers = traced["layers"]
    root = next(s for s in spans if s["name"] == "pass")
    wall = root["end"] - root["start"]
    jobs = layers["jobs"]
    stages = layers["stages"]
    busy = union_length([(j["start"], j["end"]) for j in jobs],
                        root["start"], root["end"])
    idle = wall - busy
    run_s = sum(st["run_ms"] for st in stages) / 1e3
    dur = durations(spans)
    sql = layers["sql"]
    catalyst_ms = sum(q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"]
                      for q in sql)
    compiles = layers["codegen_compiles"]
    n_jobs = len(jobs)
    return {
        "core.session_build_s": session_build_s,
        "operators.call_s": operators_s if operators_s is not None else sum(
            v for k, v in dur.items() if k.startswith("operators.")),
        "driver.jobs": n_jobs,
        "driver.idle_s": idle,
        "driver.idle_ms_per_job": 1e3 * idle / max(n_jobs, 1),
        "driver.catalyst_s": catalyst_ms / 1e3,
        "driver.sql_executions": len(sql),
        "driver.codegen_compiles": compiles,
        "driver.codegen_s": layers["codegen_ms"] / 1e3,
        "driver.compiles_per_job": compiles / max(n_jobs, 1),
        "scheduler.stages": len(stages),
        "scheduler.tasks": sum(st["tasks"] for st in stages),
        "scheduler.straggler_ratio": straggler_ratio(stages),
        "executor.cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "executor.run_s": run_s,
        "executor.gc_s": sum(st["gc_ms"] for st in stages) / 1e3,
        "executor.busy_ratio": run_s / (wall * cores),
        "shuffle.write_mb": sum(st["shuffle_write_bytes"] for st in stages) / MB,
        "shuffle.read_mb": sum(st["shuffle_read_bytes"] for st in stages) / MB,
        "shuffle.records": sum(st["shuffle_records"] for st in stages),
        "shuffle.spill_mb": sum(st["spill_bytes"] for st in stages) / MB,
        "storage.cache_mb": traced["cache_mb"],
        "sources.input_mb": sum(st["input_bytes"] for st in stages) / MB,
        "sources.input_rows": sum(st["input_rows"] for st in stages),
        "sources.output_mb": sum(st["output_bytes"] for st in stages) / MB,
        "trace.overhead_ratio": traced["wall_s"] / untraced_s,
    }


def span_metrics(traced):
    """Workload-specific span figures: wall per span name, plus self time
    per layer (the name's first dotted part)."""
    spans = traced["spans"]
    out = {f"{k}_s": v for k, v in durations(spans).items() if k != "pass"}
    by_layer = {}
    for name, own in self_times(spans).items():
        layer = name.split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + own
    out.update({f"self.{k}_s": v for k, v in by_layer.items()})
    return out
