"""Per-query optimization profiler (round-15 optimization tooling).

For each named query: a codegen warm at sf0.001, then ``reps`` timed
runs at the target SF through the SAME action bench.py uses (noop sink
for MATERIALIZE names, count() otherwise), printing min/median per
query.  With ``--plan plans/r15 --tag before`` it also writes the
``explain("formatted")`` output to ``plans/r15/<query>_<tag>.txt``
(checkpoints elided the same way tools/explain_audit.py does, so the
full plan is visible).

Usage:
  python tools/opt_profile.py [sf_dir] q1 q2 ... [--reps 3]
      [--plan plans/r15] [--tag before]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    reps = 3
    plan_dir = tag = None
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    if "--plan" in args:
        i = args.index("--plan")
        plan_dir = args[i + 1]
        args = args[:i] + args[i + 2:]
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        args = args[:i] + args[i + 2:]
    # steady-state by default (bench --full medians keep trainer caches
    # warm after rep 1); --cold clears them per rep, which matches the
    # driver bench's first_sec column instead
    cold = "--cold" in args
    if cold:
        args.remove("--cold")
    names = args

    from bench import AT_REST, run_query
    from dataqtor_spark import clear_trainer_caches
    from dataqtor_spark.queries import QUERIES
    from dataqtor_spark.session import get_spark

    spark = get_spark("opt_profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"warm:{name}")
        run_query(name, fn(spark, warm_dir))          # codegen warm
        if name in AT_REST:
            fn(spark, sf_dir).count()                 # offline index build
        if plan_dir and tag:
            os.makedirs(plan_dir, exist_ok=True)
            # elide barriers ONLY for the explain (a checkpoint truncates
            # explain output); the context restores the real barrier
            # before timing, so no timed rep runs without materialization
            import contextlib
            import io

            from tools.explain_audit import elided_barriers
            buf = io.StringIO()
            with elided_barriers(max_elide=12) as elided:
                df = fn(spark, sf_dir)
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
            hdr = ""
            if elided:
                hdr = (f"-- pinned-elided: {len(elided)} checkpoint "
                       "boundary(ies) elided for plan visibility."
                       "\n-- Subplans below an elided checkpoint "
                       "appear DUPLICATED in this dump (each consumer"
                       "\n-- replays the lineage); production "
                       "materializes each checkpointed frame ONCE.\n\n")
            with open(os.path.join(plan_dir, f"{name}_{tag}.txt"),
                      "w") as f:
                f.write(hdr + buf.getvalue())
        samples = []
        for r in range(reps):
            if cold and name not in AT_REST:
                clear_trainer_caches()
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name}:rep{r}")
            t0 = time.perf_counter()
            run_query(name, fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        s = sorted(samples)
        med = s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1]
                                                 + s[len(s) // 2]) / 2
        print(f"{name}: min {min(samples):.3f}s med {med:.3f}s "
              f"samples {[round(x, 3) for x in samples]}", flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
