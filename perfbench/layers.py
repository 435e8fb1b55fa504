"""Per-layer metrics of a traced run.

Each traced warm pass yields one value per metric (a sum over the pass's
steps); the reported value is the median over the traced passes.  The
per-step breakdown behind them goes into the run record.
"""

from __future__ import annotations

import statistics

from perfbench import trace

MB = 1024.0 * 1024.0

# name -> unit, in the order BENCHMARK.json lists them
METRICS = {
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_task_s": "s",
    "barrier.calls": "count", "barrier.s": "s",
    "ordered.self_s": "s", "dedup.self_s": "s", "dedup.jobs": "count",
    "ann.self_s": "s", "ann.jobs": "count",
    "textstats.self_s": "s", "textstats.jobs": "count",
    "selection.self_s": "s", "selection.jobs": "count",
    "profile.self_s": "s", "rules.self_s": "s", "repair.self_s": "s", "enrich.self_s": "s",
    "session.get_spark_s": "s", "session.ingest_s": "s", "session.write_dataset_s": "s",
    "workbench.profile_s": "s", "workbench.detect_s": "s", "workbench.repair_s": "s",
    "workbench.report_s": "s",
    "catalyst.plan_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.empty_task_frac": "frac", "exec.sched_delay_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_deser_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_gc_s": "s", "exec.peak_exec_mem_mb": "MB", "exec.failed_tasks": "count",
    "trace.unattributed_task_frac": "frac", "trace.overhead_frac": "frac",
}
SELF_LAYERS = ["ordered", "dedup", "ann", "textstats", "selection", "profile",
               "rules", "repair", "enrich"]
JOB_LAYERS = ["dedup", "ann", "textstats", "selection"]
# workbench.<x>_s: wall time of the lifecycle steps of that kind
WORKBENCH_STEPS = {"profile": ("wb.profile", "wb.null_profile"),
                   "detect": ("wb.detect", "wb.detect_after"),
                   "repair": ("wb.repair",), "report": ("wb.report",)}


def _span_wall(spans, layer, name):
    return sum(s["end"] - s["start"] for s in spans
               if s["layer"] == layer and s["name"] == name) / 1000.0


def pass_layers(p: dict, spans: list[dict], events: list[dict],
                hi: float) -> tuple[dict, list]:
    """(metric values, per-step records) of one traced pass.  The pass owns
    everything from its start to ``hi``, the next pass's start (or the end
    of the run): a job submitted in that interval but in no step window —
    from a thread that outlived its step, say — counts as unattributed."""
    steps = [r for r in p["steps"] if "end_ms" in r]
    lo = p["start_ms"]
    pspans = [s for s in spans if lo <= s["start"] < hi]
    windows = [(r["step"], r["start_ms"], r["end_ms"]) for r in steps]
    roll = trace.rollup_event_log(events, windows, lo, hi)
    per = roll["steps"]

    registry = [r for r in steps if not r["step"].startswith("wb.") and "build_s" in r]
    build_windows = [(r["step"], r["start_ms"], r["build_end_ms"]) for r in registry]
    build_jobs = [j for j, t, _st in roll["jobs"]
                  if any(a <= t <= b for _n, a, b in build_windows)]
    build_task_ms = sum(roll["job_task_ms"].get(j, 0.0) for j in build_jobs)

    layer_jobs: dict[str, int] = {}
    for _j, t, st in roll["jobs"]:
        if st is None:
            continue
        layer = trace.innermost_layer(pspans, t)
        if layer:
            layer_jobs[layer] = layer_jobs.get(layer, 0) + 1
    totals = trace.layer_totals(pspans, lo, hi)

    def tsum(key):
        return sum(v[key] for v in per.values())

    n_tasks = tsum("tasks")
    wall = {r["step"]: r["wall_s"] for r in steps}
    m = {
        "queries.build_s": sum(r["build_s"] for r in registry),
        "queries.build_jobs": len(build_jobs),
        "queries.build_task_s": build_task_ms / 1000.0,
        "barrier.calls": totals.get("barrier", {}).get("calls", 0),
        "barrier.s": totals.get("barrier", {}).get("ms", 0.0) / 1000.0,
        "session.get_spark_s": 0.0,  # filled from set-up by the caller
        "session.ingest_s": _span_wall(pspans, "session", "ingest"),
        "session.write_dataset_s": _span_wall(pspans, "session", "write_dataset"),
        "catalyst.plan_s": sum(r.get("plan_s", 0.0) for r in steps),
        "exec.action_s": sum(r.get("action_s", 0.0) for r in steps),
        "exec.jobs": tsum("jobs"), "exec.stages": tsum("stages"), "exec.tasks": n_tasks,
        "exec.empty_task_frac": tsum("empty_tasks") / n_tasks if n_tasks else 0.0,
        "exec.sched_delay_s": tsum("sched_ms") / 1000.0,
        "exec.task_run_s": tsum("run_ms") / 1000.0,
        "exec.task_cpu_s": tsum("cpu_ms") / 1000.0,
        "exec.task_deser_s": tsum("deser_ms") / 1000.0,
        "exec.shuffle_read_mb": tsum("shuffle_read_b") / MB,
        "exec.shuffle_write_mb": tsum("shuffle_write_b") / MB,
        "exec.spill_mb": tsum("spill_b") / MB,
        "exec.task_gc_s": tsum("gc_ms") / 1000.0,
        "exec.peak_exec_mem_mb": max((v["peak_mem_b"] for v in per.values()), default=0) / MB,
        "exec.failed_tasks": tsum("failed_tasks"),
        "trace.unattributed_task_frac": (roll["unattributed_task_ms"] / roll["total_task_ms"]
                                         if roll["total_task_ms"] else 0.0),
        # share of the pass's own wall time that no step's build or action
        # covers (job descriptions, plan reads, loop overhead)
        "step_gap_frac": 1.0 - sum(r["wall_s"] for r in steps) / p["wall_s"],
    }
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = totals.get(layer, {}).get("self_ms", 0.0) / 1000.0
    for layer in JOB_LAYERS:
        m[f"{layer}.jobs"] = layer_jobs.get(layer, 0)
    for kind, names in WORKBENCH_STEPS.items():
        m[f"workbench.{kind}_s"] = sum(wall.get(n, 0.0) for n in names)

    records = []
    for r in steps:
        e = per[r["step"]]
        st = trace.layer_totals(pspans, r["start_ms"], r["end_ms"])
        records.append({
            "step": r["step"], "wall_s": r["wall_s"], "build_s": r.get("build_s"),
            "action_s": r.get("action_s"), "plan_s": r.get("plan_s"),
            "jobs": e["jobs"], "stages": e["stages"], "tasks": e["tasks"],
            "empty_tasks": e["empty_tasks"], "failed_tasks": e["failed_tasks"],
            "task_run_s": e["run_ms"] / 1000.0, "task_cpu_s": e["cpu_ms"] / 1000.0,
            "task_deser_s": e["deser_ms"] / 1000.0, "task_gc_s": e["gc_ms"] / 1000.0,
            "sched_delay_s": e["sched_ms"] / 1000.0,
            "shuffle_read_mb": e["shuffle_read_b"] / MB,
            "shuffle_write_mb": e["shuffle_write_b"] / MB, "spill_mb": e["spill_b"] / MB,
            "peak_exec_mem_mb": e["peak_mem_b"] / MB,
            "layers": {k: {"calls": v["calls"], "s": v["ms"] / 1000.0,
                           "self_s": v["self_ms"] / 1000.0} for k, v in st.items()},
        })
    return m, records


def summarize(warm_passes: list[dict], spans: list[dict], log_dir: str,
              get_spark_s: float, end_ms: float) -> dict:
    """``warm_passes`` alternate untraced and traced, starting untraced;
    ``end_ms`` is when the last of them ended."""
    events = trace.read_event_log(log_dir)
    per_pass, records = [], []
    for i, p in enumerate(warm_passes):
        if not p["traced"]:
            continue
        nxt = warm_passes[i + 1]["start_ms"] if i + 1 < len(warm_passes) else end_ms
        m, recs = pass_layers(p, spans, events, nxt)
        per_pass.append(m)
        records.append(recs)
    metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    metrics["session.get_spark_s"] = get_spark_s
    # the first warm pass is still settling, so the untraced baseline
    # leaves it out
    traced = [p["wall_s"] for p in warm_passes if p["traced"]]
    plain = [p["wall_s"] for p in warm_passes[1:] if not p["traced"]]
    metrics["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1.0
    return {"metrics": {k: (metrics[k], u) for k, u in METRICS.items()},
            "steps": records,
            "max_step_gap_frac": max(m["step_gap_frac"] for m in per_pass)}
