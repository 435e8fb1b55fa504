"""Physical-plan audit: for every registered query, extract the
scale-relevant plan facts (scans with pushed filters + read schema, join
strategies, exchanges, top-k operators) and write PLANS.md.

Plan-audit mode: ``session.barrier`` (the engine's one checkpoint
primitive) is patched to identity while each query is built and
explained, because a checkpoint truncates ``explain('formatted')`` at
the checkpoint boundary — 40 of 306 queries
(lm01, dsir01/02, d03, sel01/02, bpe02, ...) previously showed an empty
plan with "exchanges: 0".  Eliding the pin is safe here: this tool only
explains plans, never compares results, so the partition-id pinning and
materialize-now semantics the checkpoints provide in production are not
needed.  Each query's entry records how many checkpoints were elided
(``pinned-elided: N``) so a plan that production would split across a
checkpoint boundary is still identifiable.

Usage: python tools/explain_audit.py [sf_dir] [query_name ...]
(with query names: audit only those, print to stdout, don't write PLANS.md)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INTERESTING = (
    "PushedFilters", "ReadSchema", "PartitionFilters",
    "BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin",
    "TakeOrderedAndProject", "Exchange", "HashAggregate", "ObjectHashAggregate",
    "SortAggregate", "Window", "Generate", "ArrowEvalPython", "FlatMapGroupsInPandas",
    "MapInPandas",
    # bounded trainer outputs (k-center / BPE merge tables) surface as a
    # driver-built local relation — show it rather than an empty block
    "Scan ExistingRDD", "LocalTableScan",
)


def _observed_root(df) -> bool:
    """True when an ``Observation`` rides this frame (root analyzed node
    is CollectMetrics).  Root-node check only — a full plan toString on
    recursively-elided lineage (connected_components) is itself
    exponential."""
    try:
        return df._jdf.queryExecution().analyzed().nodeName() \
            == "CollectMetrics"
    except Exception:  # noqa: BLE001 — Connect / non-classic frames
        return False


@contextlib.contextmanager
def elided_barriers(max_elide: int | None = None):
    """Route ``session.barrier`` to identity; yields a list that gets one
    entry per elided barrier, and restores the real barrier on exit.
    Every engine checkpoint goes through that one function (each call
    site imports it at call time), so this single patch reaches them all.

    - An elided barrier that carries an ``Observation`` still fires the
      metrics via ``count()`` — ``connected_components`` blocks on
      ``obs.get`` after each round's barrier, so pure-identity elision
      would deadlock every CC-consuming query's plan capture.
    - ``max_elide`` caps elisions (enter once per query): past the cap
      the REAL barrier runs, truncating
      recursive lineage (CC label rounds reference the previous round's
      plan ~6x, so an uncapped elided plan grows exponentially and
      ``explain`` never returns).
    """
    from dataqtor_spark import session

    real = session.barrier
    elided = []

    def _elide(df, eager=True):
        if max_elide is not None and len(elided) >= max_elide:
            return real(df, eager)
        elided.append(df)
        if _observed_root(df):
            df.count()    # fire the Observation; keep lineage
        return df

    session.barrier = _elide
    try:
        yield elided
    finally:
        session.barrier = real


def main() -> None:
    # args are one optional sf_dir (any existing directory) plus query
    # names, in any order — so `explain_audit.py t40_...` (forgetting the
    # sf_dir) runs a stdout spot-check instead of clobbering the
    # committed PLANS.md with 311 error stanzas against a missing path
    args = sys.argv[1:]
    dirs = [a for a in args if os.path.isdir(a)]
    only = [a for a in args if not os.path.isdir(a)]
    sf_dir = dirs[0] if dirs else "/root/testdata/sf0.01"
    assert len(dirs) <= 1, f"multiple sf_dirs given: {dirs}"

    from dataqtor_spark.queries import QUERIES
    from dataqtor_spark.session import get_spark

    if only:
        unknown = [n for n in only if n not in QUERIES]
        assert not unknown, f"unknown queries: {unknown}"
        QUERIES = {n: QUERIES[n] for n in only}

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `tools/explain_audit.py {sf_dir}`.  For each query:",
        "the operators that matter at scale — scans (with pushdown + column",
        "pruning evidence), join strategies, exchanges (shuffles), and",
        "aggregate/top-k choices.  Lines are from `explain('formatted')`.",
        "",
        "Counting note (round 14): checkpoints are elided for the audit",
        "(`pinned-elided: N`), so exchange counts now include subplans that",
        "earlier rounds' PLANS.md could not see past a `localCheckpoint`",
        "boundary — a HIGHER count than a pre-r14 entry for the same query",
        "reflects deeper visibility, not a plan regression (e.g. er03's 14",
        "visible exchanges became 32 counted across its formerly-truncated",
        "signature legs while its wall-clock dropped 3.3s -> 2.0s).",
        "",
    ]
    for name, fn in QUERIES.items():
        try:
            with elided_barriers(max_elide=12) as elided:
                df = fn(spark, sf_dir)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            out += [f"## {name}", "", f"error: {exc}", ""]
            continue
        lines = []
        n_exchanges = 0
        for raw in text.splitlines():
            ls = raw.strip()
            if ls.startswith("(") and ") " in ls[:6]:
                ls = ls.split(") ", 1)[1]
            for key in INTERESTING:
                if ls.startswith(key) or re.match(rf"\({key}\b", ls):
                    if key == "Exchange":
                        n_exchanges += 1
                    lines.append(ls[:160])
                    break
        # dedup preserving order (formatted explain repeats node names)
        seen, uniq = set(), []
        for l in lines:
            if l not in seen:
                seen.add(l)
                uniq.append(l)
        hdr = f"exchanges: {n_exchanges}"
        if elided:
            hdr += f" | pinned-elided: {len(elided)}"
        out += [f"## {name}", "", hdr, "```"]
        out += uniq[:20]
        out += ["```", ""]
    if only:
        print("\n".join(out))
        return
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
