"""Turns one run's samples, spans and status-store events into the
reported metrics: ``name -> (value, unit)``.

Both kinds are taken over a run's measured passes (``Workload.measured``).
End-to-end metrics come from an untraced run. Per-layer metrics come
from a ``--trace 1`` run, as totals per pass (per round on
``chain_rw``), so runs with different pass counts compare. The tracing
overhead is the traced run's ``wall_s`` minus the median ``wall_s`` of
the untraced runs of the same workload recorded in this checkout.
"""

from __future__ import annotations

import datetime

import stats


#: span name -> the per-layer metric of its summed duration
LAYER_SPANS = {
    "plans.build": "plans.build_s",
    "plans.exec": "plans.exec_s",
    "sinks.commit": "sinks.commit_s",
}


def tail_info(wl) -> dict:
    out = {}
    for kind in ("read", "commit"):
        v, q, n = stats.tail(wl.values(kind))
        out[kind] = {"value": v, "percentile": q, "samples": n}
    return out


def _progress_time(p: dict) -> float:
    ts = p["timestamp"].replace("Z", "+00:00")
    return datetime.datetime.fromisoformat(ts).timestamp()


def end_to_end(wl, setup: dict) -> dict:
    return {
        "setup_s": (setup["total"], "s"),
        "wall_s": (stats.median([wl.walls[i] for i in wl.measured()]), "s"),
    }


def per_layer(wl, spark, reader, setup: dict, t_window, untraced_walls: list[float]) -> dict:
    """Per-layer metrics of a traced run, over its measured passes."""
    cores = int(spark.sparkContext.defaultParallelism)
    all_stages, all_jobs = reader.stages(), reader.jobs()
    all_execs = reader.executions(t_window)
    spans = wl.tr.finish(all_stages, all_jobs, all_execs)
    counted = set(wl.measured())
    passes = [s for s in spans if s["name"] == "pass" and s["n"] in counted]
    keep = {s["id"] for s in passes}
    for s in spans:  # spans of measured passes: the pass spans and their descendants
        if s["parent"] in keep:
            keep.add(s["id"])
    spans = [s for s in spans if s["id"] in keep]
    n = max(len(passes), 1)
    windows = [(s["start"], s["end"]) for s in passes]

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    stages = [x for x in all_stages if inside(x["t"])]
    jobs = [x for x in all_jobs if inside(x["start"])]
    execs = [x for x in all_execs if inside(x["t"])]
    traced_wall = sum(b - a for a, b in windows)

    def per_pass(v: float) -> float:
        return v / n

    def st_sum(k: str) -> float:
        return sum(x[k] for x in stages)

    def ex_sum(k: str) -> float:
        return sum(x[k] for x in execs)

    def named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    reads = named("sinks.read")
    read_tail, read_q, read_n = stats.tail(wl.values("read"))
    commit_tail, commit_q, commit_n = stats.tail(wl.values("commit"))
    progress = [p for p in wl.stream_progress() if inside(_progress_time(p))]
    wall = stats.median([wl.walls[i] for i in counted])
    m = {
        "session.start_s": (setup["start"], "s"),
        "session.warmup_s": (setup["warmup"], "s"),
        "plans.import_s": (setup["import"], "s"),
        "plans.build_jobs": (per_pass(sum(s["jobs"] for s in named("plans.build"))), "count"),
        "spark.jobs": (per_pass(len(jobs)), "count"),
        "spark.stages": (per_pass(len(stages)), "count"),
        "spark.tasks": (per_pass(st_sum("tasks")), "count"),
        "spark.failed_tasks": (per_pass(st_sum("failed_tasks")), "count"),
        "spark.core_busy_frac": (
            st_sum("run_s") / (traced_wall * cores) if traced_wall else 0.0, "ratio"),
        "spark.job_overlap": (
            stats.overlap_ratio([(j["start"], j["t"]) for j in jobs]), "ratio"),
        "scan.file_bytes": (per_pass(ex_sum("scan.file_bytes")), "B"),
        "scan.rows": (per_pass(ex_sum("scan.rows")), "count"),
        "scan.time_s": (per_pass(ex_sum("scan.time_s")), "s"),
        "shuffle.write_bytes": (per_pass(st_sum("shuffle_write_bytes")), "B"),
        "shuffle.read_bytes": (per_pass(st_sum("shuffle_read_bytes")), "B"),
        "shuffle.fetch_wait_s": (per_pass(st_sum("fetch_wait_s")), "s"),
        "exec.run_s": (per_pass(st_sum("run_s")), "s"),
        "exec.cpu_s": (per_pass(st_sum("cpu_s")), "s"),
        "exec.gc_s": (per_pass(st_sum("gc_s")), "s"),
        "spill.memory_bytes": (per_pass(st_sum("spill_memory_bytes")), "B"),
        "spill.disk_bytes": (per_pass(st_sum("spill_disk_bytes")), "B"),
        "python.run_s": (per_pass(ex_sum("python.run_s")), "s"),
        "python.start_s": (per_pass(ex_sum("python.start_s")), "s"),
        "python.bytes_sent": (per_pass(ex_sum("python.bytes_sent")), "B"),
        "python.bytes_returned": (per_pass(ex_sum("python.bytes_returned")), "B"),
        "sinks.commit_jobs": (per_pass(sum(s["jobs"] for s in named("sinks.commit"))), "count"),
        "sinks.retries": (float(wl.retries), "count"),
        "sinks.files_per_read": (
            sum(s["scan.files"] for s in reads) / len(reads) if reads else 0.0, "count"),
        "stream.epochs": (per_pass(len(progress)), "count"),
        "stream.trigger_s": (
            per_pass(sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3), "s"),
        "stream.add_batch_s": (
            per_pass(sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3), "s"),
        "read_p50_s": (stats.median(wl.values("read")), "s"),
        "read_tail_s": (read_tail, "s"),
        "read_tail_pct": (read_q, "pct"),
        "read_tail_n": (float(read_n), "count"),
        "commit_p50_s": (stats.median(wl.values("commit")), "s"),
        "commit_tail_s": (commit_tail, "s"),
        "commit_tail_pct": (commit_q, "pct"),
        "commit_tail_n": (float(commit_n), "count"),
        "freshness_p50_s": (stats.median(wl.values("freshness")), "s"),
        "trace.wall_s": (wall, "s"),
        "trace.overhead_s": (
            wall - stats.median(untraced_walls) if untraced_walls else 0.0, "s"),
        "trace.overhead_base_n": (float(len(untraced_walls)), "count"),
        "trace.snapshot_s": (wl.tr.cost / max(len(wl.walls), 1), "s"),
        "trace.spans": (per_pass(len(spans)), "count"),
        "trace.pass_self_s": (per_pass(sum(s["self_s"] for s in passes)), "s"),
    }
    for name, metric in LAYER_SPANS.items():
        m[metric] = (per_pass(sum(s["end"] - s["start"] for s in named(name))), "s")
    for k in ("read_ops", "write_ops", "list_ops", "stat_ops", "bytes_written"):
        unit = "B" if k == "bytes_written" else "count"
        m[f"fs.{k}"] = (per_pass(sum(s["fs"][k] for s in passes)), unit)
    return m
