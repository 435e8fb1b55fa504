"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload dq_workbench --seed 1 --seconds 4 --trace 0

Run it from the repository root.  Phases:

1. *inputs* — a child process generates the seeded inputs and the
   expected outputs under ``.perfbench/``; not timed.
2. *set-up* (``setup_s``) — import the engine, ``get_spark`` on
   ``local[4]``, and lay out the at-rest index fixtures.
3. *first pass* (``first_s``) — the first pass of the fresh process, with
   the trainer memos empty: it pays codegen/JIT warm-up and training.
4. *warm passes* (``warm_s``): the workload's fixed count, continued
   until ``--seconds`` have passed (a count that varied with host speed
   would move the median);
   ``warm_s`` sums each step's median over them.
5. every step's output is checked after its pass, outside every timed
   window.

With ``--trace 1`` the Spark event log is on and the warm passes
alternate untraced and traced (engine functions wrapped); the result line
then carries the per-layer metrics instead of the end-to-end ones, and the
per-step layer record is written to ``.perfbench/out/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  The exit code is non-zero, with no result
line, when the engine package is missing or the run itself breaks.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# generated inputs, run scratch space and run records (ignored by git)
CACHE = os.path.join(ROOT, ".perfbench")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402

CORES = 4
DRIVER_MEM = "1g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=4.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the workload's registry scale factor")
    p.add_argument("--upload-rows", type=int, default=None,
                   help="override the dq_workbench upload size")
    p.add_argument("--prepare", metavar="MANIFEST", help=argparse.SUPPRESS)
    return p.parse_args(argv)


# --- phase 1: inputs (child process) ----------------------------------------

def _prepare_child(args) -> None:
    from perfbench import workloads as W

    man = W.prepare(args.workload, args.seed, CACHE, sf=args.sf,
                    upload_rows=args.upload_rows)
    tmp = f"{args.prepare}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(man, f)
    os.replace(tmp, args.prepare)


def _inputs(args) -> dict:
    """Manifest of the run's inputs and expected outputs.  A child process
    makes them the first time (so generation memory stays out of
    ``peak_rss_mb``); later runs on the same inputs reuse them."""
    from perfbench.workloads import WORKLOADS, input_key

    spec = WORKLOADS[args.workload]
    sf = spec["sf"] if args.sf is None else args.sf
    rows = spec["upload_rows"] if args.upload_rows is None else args.upload_rows
    # the spec is in the name, so a changed step list never reuses old digests
    tag = hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:8]
    path = os.path.join(CACHE, f"inputs-{args.workload}-{input_key(args.workload, args.seed)}"
                               f"-sf{sf}-r{rows}-{tag}.json")
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--prepare", path]
        if args.sf is not None:
            cmd += ["--sf", str(args.sf)]
        if args.upload_rows is not None:
            cmd += ["--upload-rows", str(args.upload_rows)]
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=170)
    with open(path) as f:
        return json.load(f)


# --- phases 2-5: the engine ---------------------------------------------------

def _engine_env(work: str, trace: bool) -> str:
    """Environment for the driver JVM and its Python workers; returns the
    event-log directory ('' when not tracing)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from the checkout, whatever the cwd
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = ["spark.ui.showConsoleProgress=false"]
    log_dir = ""
    if trace:
        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        # Spark 4.1 zstd-compresses event logs by default; Python's stdlib
        # cannot read zstd
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"
    return log_dir


def _run_step(ctx, step, tracer=None):
    """Time one step; returns (record, output).  The output is checked by
    the caller, after the timed window."""
    from perfbench.trace import now_ms, plan_ms

    sc = ctx.spark.sparkContext
    sc.setJobDescription(f"q:{step.name}")
    rec = {"step": step.name, "start_ms": now_ms()}
    t0 = time.perf_counter()
    try:
        df = step.build(ctx)
        t1 = time.perf_counter()
        rec["build_end_ms"] = now_ms()
        out = step.action(df)
        t2 = time.perf_counter()
    except Exception as e:  # a failed step is counted, the pass goes on
        rec.update(end_ms=now_ms(), wall_s=time.perf_counter() - t0,
                   error=f"{type(e).__name__}: {str(e)[:300]}")
        return rec, None
    finally:
        sc.setJobDescription(None)
    rec.update(end_ms=now_ms(), build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0)
    if tracer is not None and df is not None and hasattr(df, "_jdf"):
        rec["plan_s"] = plan_ms(df) / 1000.0
    return rec, out


def _run_pass(ctx, steps, tracer=None) -> dict:
    """One pass: the steps back to back, then every step's output check.
    ``wall_s`` is timed around the steps alone, independently of the
    per-step timers, so the share of it no step accounts for shows."""
    import dataclasses
    import gc

    from perfbench.trace import now_ms

    gc.collect()  # release the previous pass's pinned checkpoints first
    ctx = dataclasses.replace(ctx, state={})
    if tracer is not None:
        tracer.enabled = True
    recs, outs = [], []
    start_ms = now_ms()
    t0 = time.perf_counter()
    for step in steps:
        rec, out = _run_step(ctx, step, tracer)
        recs.append(rec)
        outs.append(out)
    wall = time.perf_counter() - t0
    if tracer is not None:
        tracer.enabled = False
    for step, rec, out in zip(steps, recs, outs):
        if "error" not in rec:
            try:
                rec["check"] = step.check(ctx, out)
            except Exception as e:
                rec["check"] = f"check raised {type(e).__name__}: {e}"
    return {"start_ms": start_ms, "wall_s": wall, "steps": recs,
            "traced": tracer is not None}


def _failures(passes) -> tuple[int, int, list[str]]:
    attempted = failed = 0
    why = []
    for p in passes:
        for r in p["steps"]:
            attempted += 1
            bad = r.get("error") or r.get("check")
            if bad:
                failed += 1
                why.append(f"{r['step']}: {bad}")
    return attempted, failed, why


def _median_pass(passes) -> float:
    """Sum over steps of each step's median wall time across ``passes``."""
    return sum(statistics.median(p["steps"][i]["wall_s"] for p in passes)
               for i in range(len(passes[0]["steps"])))


def run(args) -> dict:
    """One run in a scratch directory of its own, removed afterwards."""
    work = os.path.join(CACHE, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> dict:
    from perfbench import workloads as W
    from perfbench.trace import now_ms

    main = _inputs(args)
    log_dir = _engine_env(work, bool(args.trace))
    cpu0 = host.cpu_snapshot()
    ctx_host = {"loadavg_1m_start": host.host_context(cpu0)["loadavg_1m"]}

    # --- set-up -------------------------------------------------------------
    rss = host.RssSampler().start()
    t_setup = time.perf_counter()
    import dataqtor_spark
    from dataqtor_spark import session as S

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()  # spans are recorded only while tracer.enabled
    t_gs = time.perf_counter()
    spark = S.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t_gs
    spark.sparkContext.setLogLevel("ERROR")
    steps = W.steps_for(args.workload)
    ctx = W.Ctx(spark, main["sf_dir"], main["upload"], os.path.join(work, "saved.parquet"),
                main["expected"], main["drop_ids"])
    setup_s = time.perf_counter() - t_setup

    # --- measured passes ----------------------------------------------------
    try:
        dataqtor_spark.clear_trainer_caches()
        t_meas = time.perf_counter()
        first = _run_pass(ctx, steps)
        t_warm = time.perf_counter()
        warm_passes = []
        min_passes = W.WORKLOADS[args.workload]["warm_passes"]
        if args.trace:
            # untraced, traced, untraced at least: the traced passes are
            # compared with the settled untraced ones after the first
            min_passes = max(min_passes, 3)
        while len(warm_passes) < min_passes or time.perf_counter() - t_warm < args.seconds:
            traced = bool(args.trace) and len(warm_passes) % 2 == 1
            warm_passes.append(_run_pass(ctx, steps, tracer if traced else None))
        measured_s = time.perf_counter() - t_meas
        end_ms = now_ms()
        peak_rss_mb = rss.stop()
        rss_by_process = rss.by_process()
    finally:
        _stop_spark(spark)
    spans = tracer.take() if tracer else []
    ctx_host.update(host.host_context(cpu0))

    passes = [first] + warm_passes
    attempted, failed, why = _failures(passes)
    plain = [p for p in warm_passes if not p["traced"]]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": {k: v for k, v in main.items() if k != "expected"},
        "expected_source": {n: e["source"] for n, e in
                            main["expected"].get("registry", {}).items()},
        "setup": {"setup_s": setup_s, "get_spark_s": get_spark_s},
        "first_s": first["wall_s"], "warm_s": _median_pass(plain),
        "measured_s": measured_s, "peak_rss_mb": peak_rss_mb,
        "peak_rss_mb_by_process": rss_by_process,
        "host": ctx_host, "attempted": attempted, "failed": failed,
        "failures": why[:20], "passes": passes,
    }
    if args.trace:
        from perfbench import layers

        record["layers"] = layers.summarize(
            warm_passes, spans, log_dir, get_spark_s, end_ms)
    return record


def _stop_spark(spark) -> None:
    """Stop the session, then wait until the driver JVM and the Python
    workers it forked have exited (killing what outlives a grace period)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = host.descendants(os.getpid())[1:]
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 10
    while (left := [p for p in started if host.alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = _parse(argv)
    if args.prepare:
        _prepare_child(args)
        return 0
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if importlib.util.find_spec("dataqtor_spark") is None:
        print("engine package dataqtor_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    rec = run(args)
    out_dir = os.path.join(CACHE, "out")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    if args.trace:
        metrics = {k: _metric(v, u) for k, (v, u) in rec["layers"]["metrics"].items()}
    else:
        metrics = {"setup_s": _metric(rec["setup"]["setup_s"], "s"),
                   "warm_s": _metric(rec["warm_s"], "s"),
                   "first_s": _metric(rec["first_s"], "s"),
                   "peak_rss_mb": _metric(rec["peak_rss_mb"], "MB")}
    failed_frac = rec["failed"] / rec["attempted"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"failed_frac={failed_frac:.4f} ({rec['failed']}/{rec['attempted']}) "
          f"steal_pct={rec['host']['steal_pct']} loadavg_1m={rec['host']['loadavg_1m']} "
          f"record={os.path.relpath(out_path, ROOT)}")
    if args.trace:
        lay = rec["layers"]
        print(f"# trace unattributed_task_frac="
              f"{lay['metrics']['trace.unattributed_task_frac'][0]:.4f} "
              f"max_step_gap_frac={lay['max_step_gap_frac']:.4f}")
    for w in rec["failures"]:
        print(f"# FAILED {w}")
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
