"""Per-layer metrics of a traced run.

Unless a name says otherwise, a value is the total over the timed passes
divided by the number of timed passes, so runs with different pass counts
compare. Set-up figures (``session.start_s``, ``artifacts.build_s``,
``plans.etl.star_build_s``) cover the whole run. A layer a workload does
not call reads 0.
"""

from __future__ import annotations

import statistics

import eventlog

SPARK = ("jobs", "stages", "tasks", "driver_gap_s", "executor_cpu_s", "executor_run_s",
         "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "output_mb")
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
FAMILY_METRIC = {
    "dedup": "operators.dedup_s",
    "similarity": "operators.similarity_s",
    "text": "operators.text_s",
    "corpus": "queries.corpus_s",
}
REGISTRY_FAMILIES = {"queries", "stream", *FAMILY_METRIC}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "write_amp")):
        return "ratio"
    return "count"


def per_layer(tracer, runner, ctx, event_log_dir: str, session_start_s: float, run_s: float,
              pyworker_cpu_s: float) -> dict[str, tuple[float, str]]:
    """Metric name -> (value, unit)."""
    timed = [r for r in runner.ops if r["timed"]]
    timed_passes = {r["pass"] for r in timed}
    n = len(timed_passes)

    def in_timed(op_id: str) -> bool:
        return int(op_id.split(".")[0][1:]) in timed_passes if op_id.startswith("p") else False

    def counter(name: str) -> float:
        return sum(acc.get(name, 0.0) for oid, acc in tracer.counters.items() if in_timed(oid))

    m: dict[str, float] = {"session.start_s": session_start_s}

    # Spark counters from the event log, attributed by op time windows.
    windows = []
    for r in runner.ops:
        lo, mid, hi = (int(r[k] * 1000) for k in ("start", "build_end", "end"))
        windows += [(r["id"] + "/build", lo, mid), (r["id"] + "/exec", mid + 1, hi)]
    per_window = eventlog.attribute(eventlog.read_jobs(event_log_dir), windows)
    for key in SPARK:
        m[f"spark.{key}"] = sum(per_window[r["id"] + w][key] for r in timed for w in ("/build", "/exec")) / n

    registry_ops = [r for r in timed if r["family"] in REGISTRY_FAMILIES]
    m["queries.build_s"] = sum(r["build_s"] for r in registry_ops) / n
    m["queries.exec_s"] = sum(r["exec_s"] for r in registry_ops) / n
    m["queries.build_jobs"] = sum(per_window[r["id"] + "/build"]["jobs"] for r in registry_ops) / n
    for family, name in FAMILY_METRIC.items():
        m[name] = sum(r["wall_s"] for r in timed if r["family"] == family) / n

    star_builds = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "plans.etl.star_build"]
    m["plans.etl.star_build_s"] = statistics.median(star_builds) if star_builds else 0.0
    m["plans.etl.refresh_s"] = counter("plans.etl.refresh_s") / n
    m["plans.etl.incremental_s"] = counter("plans.etl.incremental_s") / n
    m["plans.metrics.evaluate_s"] = counter("plans.metrics.evaluate_s") / n
    slicers = [r for r in timed if r["family"] == "slicer"]
    routed = ctx.state.get("routed", {})
    m["plans.metrics.routed_ratio"] = (
        sum(1 for r in slicers if routed.get(r["name"])) / len(slicers) if slicers else 0.0
    )

    m["pyworkers.cpu_s"] = pyworker_cpu_s / n
    builds = [s for s in tracer.spans if s["name"].startswith("artifacts.build.")]
    m["artifacts.build_s"] = sum(s["end"] - s["start"] for s in builds)
    m["artifacts.builds"] = float(len(builds))
    calls = counter("runtime.artifact_calls")
    m["runtime.artifact_calls"] = calls / n
    m["runtime.artifact_hit_ratio"] = counter("runtime.artifact_hits") / calls if calls else 0.0
    m["runtime.persists_released"] = counter("runtime.persists_released") / n

    m["sources.sinks.write_s"] = counter("sources.sinks.write_s") / n
    m["sources.sinks.bytes_written_mb"] = counter("sources.sinks.bytes_written") / 2**20 / n
    # All bytes Spark jobs wrote over the bytes the stage-and-swap sinks
    # left in live tables.
    live_mb = m["sources.sinks.bytes_written_mb"]
    m["sources.sinks.write_amp"] = m["spark.output_mb"] / live_mb if live_mb else 0.0

    # Streaming progress, attributed to the op whose window holds the
    # batch's trigger start.
    spans = [(r["start"], r["end"]) for r in timed]
    batches = [p for p in tracer.progress if any(lo <= p["start"] <= hi for lo, hi in spans)]
    trig = [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in batches]
    over = [(p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0)) / 1e3
            for p in batches]
    m["streaming.batches"] = len(batches) / n
    m["streaming.batch_p50_s"] = statistics.median(trig) if trig else 0.0
    m["streaming.batch_overhead_s"] = statistics.median(over) if over else 0.0
    for phase in PHASES:
        m[f"streaming.phase.{phase}_s"] = sum(p["duration_ms"].get(phase, 0) for p in batches) / 1e3 / n
    m["streaming.rows_in"] = sum(p["rows"] for p in batches) / n

    for key in ("codegen.compiles", "codegen.compile_s", "jvm.jit_s", "jvm.gc_s"):
        m[key] = counter(key) / n

    # The traced run's run_s; the tracing overhead is this minus the
    # untraced run_s of the same workload and seed.
    m["trace.run_s"] = run_s
    return {k: (float(v), _unit(k)) for k, v in m.items()}
