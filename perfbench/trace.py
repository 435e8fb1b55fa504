"""Layer tracing from outside the engine.

Two sources, neither of which changes engine code:

- :class:`Tracer` wraps the public functions of the engine's modules
  (``session``, ``workbench.Workbench``, ``operators.*``) and the
  DataFrame ``checkpoint``/``localCheckpoint`` barriers, recording one span
  per call: module, name, thread, start and end.  A module's *self time* is
  its spans' time minus the time their child spans cover.
- :func:`rollup_event_log` reads Spark's own (uncompressed) event log and
  assigns every job to the benchmark step whose time window holds the
  job's submission, and every task to its stage's job.  Steps run one at a
  time, so time windows also catch jobs started from worker threads, which
  job groups (thread-local) would miss.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import threading
import time

# Modules whose public functions are wrapped; the short name is the layer
# name used in the metrics (``dedup.self_s``, ``ann.jobs`` ...).
OPERATOR_MODULES = ["ann", "asof", "behavior", "dedup", "embeddings", "enrich",
                    "layout", "multimodal", "ordered", "profile", "rangejoin",
                    "repair", "rules", "scd", "selection", "similarity",
                    "sketches", "skew", "textstats"]
SESSION_FUNCS = ["get_spark", "read_table", "ingest", "write_dataset",
                 "parallelize", "with_row_id"]


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Records spans around wrapped calls while :attr:`enabled`.

    ``install()`` replaces module attributes with wrappers that carry the
    original's ``__module__``/``__qualname__`` (so code that pickles a
    module function by reference still finds it); ``uninstall()`` puts
    the originals back.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # --- span recording ----------------------------------------------------

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            stack = tracer._local.__dict__.setdefault("stack", [])
            span = {"layer": layer, "name": fn.__name__,
                    "thread": threading.get_ident(), "start": now_ms(),
                    "child_ms": 0.0}
            stack.append(span)
            try:
                return fn(*a, **kw)
            finally:
                span["end"] = now_ms()
                stack.pop()
                if stack:
                    stack[-1]["child_ms"] += span["end"] - span["start"]
                with tracer._lock:
                    tracer.spans.append(span)
        return wrapper

    def _patch(self, owner, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(layer, orig))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from dataqtor_spark import session, workbench

        for f in SESSION_FUNCS:
            self._patch(session, f, "session")
        for name, member in vars(workbench.Workbench).items():
            if inspect.isfunction(member) and not name.startswith("_"):
                self._patch(workbench.Workbench, name, "workbench")
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"dataqtor_spark.operators.{short}")
            for name, member in list(vars(mod).items()):
                if (inspect.isfunction(member) and not name.startswith("_")
                        and member.__module__ == mod.__name__):
                    self._patch(mod, name, short)
        for m in ("checkpoint", "localCheckpoint"):
            self._patch(DataFrame, m, "barrier")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def take(self) -> list[dict]:
        with self._lock:
            out, self.spans = self.spans, []
        return out


def layer_totals(spans: list[dict], lo: float, hi: float) -> dict:
    """Per layer: calls, wall ms and self ms of spans starting in [lo, hi)."""
    out: dict[str, dict] = {}
    for s in spans:
        if lo <= s["start"] < hi:
            t = out.setdefault(s["layer"], {"calls": 0, "ms": 0.0, "self_ms": 0.0})
            t["calls"] += 1
            t["ms"] += s["end"] - s["start"]
            t["self_ms"] += s["end"] - s["start"] - s["child_ms"]
    return out


def innermost_layer(spans: list[dict], t: float) -> str | None:
    """Layer of the innermost span (latest start) covering time ``t``."""
    best = None
    for s in spans:
        if s["start"] <= t < s["end"] and s["layer"] != "barrier":
            if best is None or s["start"] > best["start"]:
                best = s
    return best["layer"] if best else None


# --- Spark event log -------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir`` (plain JSON
    lines; Spark's rolling ``eventlog_v2_*`` directories or single files)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
                   + [p for p in glob.glob(os.path.join(log_dir, "*"))
                      if os.path.isfile(p) and not os.path.basename(p).startswith(".")])
    events = []
    for p in files:
        with open(p, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


_TASK_FIELDS = ("run_ms", "cpu_ms", "deser_ms", "gc_ms", "sched_ms",
                "shuffle_read_b", "shuffle_write_b", "spill_b")


def _task_record(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    run = m.get("Executor Run Time", 0)
    deser = m.get("Executor Deserialize Time", 0)
    dur = info["Finish Time"] - info["Launch Time"]
    # the Spark UI's scheduler delay: task wall minus what the executor
    # accounts for
    sched = max(0, dur - run - deser - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0))
    return {
        "stage": ev["Stage ID"],
        "run_ms": run,
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "deser_ms": deser,
        "gc_ms": m.get("JVM GC Time", 0),
        "sched_ms": sched,
        "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "spill_b": m.get("Disk Bytes Spilled", 0),
        "peak_mem_b": m.get("Peak Execution Memory", 0),
        "empty": (inp.get("Records Read", 0) == 0
                  and sr.get("Total Records Read", 0) == 0),
        "failed": ev.get("Task End Reason", {}).get("Reason") != "Success",
    }


def rollup_event_log(events: list[dict], windows: list[tuple[str, float, float]],
                     lo: float, hi: float) -> dict:
    """Roll the event log up into one record per step window.

    ``windows`` are ``(step, start_ms, end_ms)``; ``[lo, hi)`` is the
    interval the windows are accounted against (a whole pass, up to the
    next one's start).  A job belongs to the window holding its submission
    time; jobs submitted inside ``[lo, hi)`` but in no window are
    *unattributed*.
    Returns ``{"steps": {step: {...}}, "jobs": [(job_id, submit_ms, step)],
    "job_task_ms": {job_id: ms}, "unattributed_task_ms": x,
    "total_task_ms": y}`` (task times are executor run time).
    """
    job_submit, job_stages = {}, {}
    stage_submit: dict[int, float] = {}
    stages_run: list[int] = []
    tasks = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job_submit[ev["Job ID"]] = ev["Submission Time"]
            job_stages[ev["Job ID"]] = ev.get("Stage IDs", [])
        elif kind == "SparkListenerStageSubmitted":
            stage_submit.setdefault(ev["Stage Info"]["Stage ID"],
                                    ev["Stage Info"].get("Submission Time", 0))
        elif kind == "SparkListenerStageCompleted":
            stages_run.append(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(_task_record(ev))
    # a stage listed by several jobs ran under the latest job submitted
    # before the stage was
    stage_job: dict[int, int] = {}
    for job in sorted(job_submit):
        for sid in job_stages[job]:
            if job_submit[job] <= stage_submit.get(sid, float("inf")):
                stage_job[sid] = job

    def step_of(t):
        for name, a, b in windows:
            if a <= t <= b:
                return name
        return None

    job_step = {j: step_of(t) for j, t in job_submit.items()}
    blank = {"jobs": 0, "stages": 0, "tasks": 0, "empty_tasks": 0,
             "failed_tasks": 0, "peak_mem_b": 0, **{k: 0.0 for k in _TASK_FIELDS}}
    steps = {name: dict(blank) for name, _a, _b in windows}
    for j, t in job_submit.items():
        if job_step[j] is not None:
            steps[job_step[j]]["jobs"] += 1
    for sid in stages_run:
        st = job_step.get(stage_job.get(sid))
        if st is not None:
            steps[st]["stages"] += 1
    unattributed = total = 0.0
    job_task_ms: dict[int, float] = {}
    for t in tasks:
        job = stage_job.get(t["stage"])
        if job is None or not lo <= job_submit[job] < hi:
            continue
        total += t["run_ms"]
        job_task_ms[job] = job_task_ms.get(job, 0.0) + t["run_ms"]
        st = job_step[job]
        if st is None:
            unattributed += t["run_ms"]
            continue
        rec = steps[st]
        rec["tasks"] += 1
        rec["empty_tasks"] += t["empty"]
        rec["failed_tasks"] += t["failed"]
        rec["peak_mem_b"] = max(rec["peak_mem_b"], t["peak_mem_b"])
        for k in _TASK_FIELDS:
            rec[k] += t[k]
    return {"steps": steps,
            "jobs": [(j, job_submit[j], job_step[j]) for j in sorted(job_submit)
                     if lo <= job_submit[j] < hi],
            "job_task_ms": job_task_ms,
            "unattributed_task_ms": unattributed, "total_task_ms": total}


def plan_ms(df) -> float:
    """Analysis + optimization + planning time from a classic DataFrame's
    ``QueryPlanningTracker``, read after its action ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        if o.isDefined():
            total += o.get().durationMs()
    return total
