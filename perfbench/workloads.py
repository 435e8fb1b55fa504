"""The three workloads: their steps, inputs and output checks.

Every workload is a closed loop with one client: a *pass* runs the
workload's steps one after another, each step starting when the previous
one returned.  A step is ``build`` (Python call into the engine that
returns a DataFrame; eager jobs run here) then ``action`` (materialises
the result to the driver), then — outside the timed window — ``check``.

Sizes keep one benchmark run (set-up, first pass, warm passes and
checks) within 30-55 s on a 4-core host; ``README.md`` says why and what
that left out of the engine's sf0.1 headliner lists.
"""

from __future__ import annotations

import functools
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

from perfbench import check, gen


@dataclass
class Step:
    name: str
    build: Callable[["Ctx"], Any]
    action: Callable[[Any], Any]
    check: Callable[["Ctx", Any], str | None]


@dataclass
class Ctx:
    """What the steps of one pass share: the session, the inputs and the
    expected outputs, and per-pass state (the open Workbench)."""
    spark: Any
    sf_dir: str | None
    upload: str | None
    save_dir: str
    expected: dict
    drop_ids: list[int]
    state: dict = field(default_factory=dict)


# name -> scale factor of the registry tables, upload rows (None: no
# Workbench lifecycle), the registry steps run after the lifecycle, and the
# warm passes after the first (the traced run traces every second one).
# er03's build time still falls over its first four passes, so dedup_pairs
# takes six to reach a steady median.
WORKLOADS = {
    "dq_workbench": {
        "sf": 0.01, "upload_rows": 5_000, "registry": [], "warm_passes": 2,
    },
    "dedup_pairs": {
        "sf": 0.01, "upload_rows": None, "registry": ["er03_blocking_quality"],
        "warm_passes": 6,
    },
    "train_serve": {
        "sf": 0.01, "upload_rows": None,
        "registry": ["ann06_ivfpq_topk", "bpe02_bpe_train", "sel01_kcenter_diversity"],
        "warm_passes": 2,
    },
}


# --- registry steps --------------------------------------------------------

def registry_step(name: str) -> Step:
    from dataqtor_spark.queries import QUERIES

    return Step(
        name=name,
        build=lambda ctx: QUERIES[name](ctx.spark, ctx.sf_dir),
        action=lambda df: df.toPandas(),
        check=lambda ctx, out: check.check_registry(out, ctx.expected["registry"][name]),
    )


# --- workbench lifecycle steps ---------------------------------------------

def _rules():
    from dataqtor_spark.operators import rules as R

    lo, hi = gen.NAME_LEN
    return [R.rule_email("email", name="email"),
            R.rule_phone_tr("phone", name="phone"),
            R.rule_tcid("tcid", name="tcid"),
            R.rule_taxnum("taxnum", name="taxnum"),
            R.rule_domain("city", name="city"),
            R.rule_length("full_name", "between", low=lo, high=hi, name="name_len")]


def _load(ctx):
    from dataqtor_spark.workbench import Workbench

    ctx.state["wb"] = Workbench.load(ctx.spark, ctx.upload, schema=gen.UPLOAD_SCHEMA,
                                     row_id_order=["id"])
    return ctx.state["wb"].df


def _repair(ctx):
    wb = ctx.state["wb"]
    (wb.title_case("full_name").strip_chars("full_name")
       .find_replace("city", *gen.CITY_FIX).fill_nulls("city", gen.CITY_FILL)
       .drop_rows(ctx.drop_ids))
    return wb.df


def _enrich(ctx):
    from dataqtor_spark.operators import enrich as EN

    wb = ctx.state["wb"]
    # Workbench has no enrich shortcut; _apply is its own lineage hook
    wb._apply(EN.enrich_gender, "full_name")
    wb._apply(EN.enrich_date_parts, "birth_date")
    return wb.df


def _save(ctx):
    """The download: the write is the step's action."""
    return functools.partial(ctx.state["wb"].save, ctx.save_dir)


def _read_saved(path: str) -> tuple[int, dict]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=["Gender_full_name"])
    counts: dict[str, int] = {}
    for g in tbl.column(0).to_pylist():
        key = "null" if g is None else g
        counts[key] = counts.get(key, 0) + 1
    return tbl.num_rows, counts


# The corrector steps only extend the lineage (their effect is checked by
# detect_after, report and save); their own output is the new schema.
_UPLOAD_COLS = ["__row_id", "id", "full_name", "email", "phone", "tcid",
                "taxnum", "city", "birth_date"]
_ENRICHED_COLS = ["Gender_full_name"] + [
    f"{p}_birth_date" for p in ("Day", "Weekday", "Month", "Year", "Quarter", "WeekofYear")]


def _check_schema(cols: list[str], enriched: bool) -> str | None:
    want = _UPLOAD_COLS + (_ENRICHED_COLS if enriched else [])
    return None if sorted(cols) == sorted(want) else f"columns {cols} != {want}"


def _lc(key):
    return lambda c, out: check.check_lifecycle(key, out, c.expected["upload"])


def lifecycle_steps() -> list[Step]:
    to_pd = lambda df: df.toPandas()  # noqa: E731
    return [
        Step("wb.load", _load, lambda df: df.count(), _lc("wb.load")),
        Step("wb.profile", lambda c: c.state["wb"].profile(), to_pd, _lc("wb.profile")),
        Step("wb.null_profile", lambda c: c.state["wb"].null_profile(), to_pd,
             _lc("wb.null_profile")),
        Step("wb.detect", lambda c: c.state["wb"].detect(_rules()), to_pd,
             _lc("wb.detect")),
        Step("wb.repair", _repair, lambda df: df.columns,
             lambda c, cols: _check_schema(cols, False)),
        Step("wb.enrich", _enrich, lambda df: df.columns,
             lambda c, cols: _check_schema(cols, True)),
        Step("wb.detect_after", lambda c: c.state["wb"].detect(_rules()), to_pd,
             _lc("wb.detect_after")),
        Step("wb.report", lambda c: c.state["wb"].report(), to_pd, _lc("wb.report")),
        Step("wb.save", _save, lambda save: save(),
             lambda c, _out: check.check_lifecycle("wb.save", _read_saved(c.save_dir),
                                                   c.expected["upload"])),
    ]


def steps_for(workload: str) -> list[Step]:
    spec = WORKLOADS[workload]
    steps = lifecycle_steps() if spec["upload_rows"] else []
    return steps + [registry_step(n) for n in spec["registry"]]


# --- inputs ----------------------------------------------------------------

# The registry tables come in TABLE_VARIANTS seeded variants, picked by
# ``seed % TABLE_VARIANTS``.  Their oracle digests take seconds to compute
# (er03's and bpe02's most), so runs on a variant already seen reuse them:
# a full evaluation, tens of runs, stays within its time budget.  The
# dq_workbench upload is cheap and made per seed.
TABLE_VARIANTS = 4


def input_key(workload: str, seed: int) -> str:
    """Which inputs a run uses: the same key, the same inputs."""
    if WORKLOADS[workload]["upload_rows"]:
        return f"s{seed}"
    return f"v{seed % TABLE_VARIANTS}"


def tables(cache: str, sf: float, variant: int) -> str:
    """Directory of one registry-table variant, generated under ``cache``
    the first time."""
    d = os.path.join(cache, f"tables-sf{sf}-v{variant}")
    if not os.path.isdir(d):
        tmp = f"{d}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp, variant, sf)
        os.replace(tmp, d)
    return d


def prepare(workload: str, seed: int, cache: str, sf: float | None = None,
            upload_rows: int | None = None) -> dict:
    """Inputs and expected outputs of one run: the seed's table variant
    (generated under ``cache`` unless already there), the DuckDB oracle's
    digest of every registry step over it, and the seed's upload."""
    spec = WORKLOADS[workload]
    sf = spec["sf"] if sf is None else sf
    rows = spec["upload_rows"] if upload_rows is None else upload_rows
    man = {"workload": workload, "sf": sf, "sf_dir": None,
           "upload": None, "drop_ids": [], "expected": {}}
    if spec["registry"]:
        man["table_variant"] = seed % TABLE_VARIANTS
        man["sf_dir"] = tables(cache, sf, man["table_variant"])
        man["expected"]["registry"] = check.oracle_digests(
            man["sf_dir"], spec["registry"], gen.TABLES)
    if rows:
        man["upload"] = os.path.join(cache, f"upload-s{seed}-r{rows}.csv")
        up = gen.write_upload(man["upload"], seed, rows)
        man.update(upload_rows=rows, defect_rates=gen.UPLOAD_DEFECT_RATES,
                   drop_ids=up["drop_ids"])
        man["expected"]["upload"] = gen.upload_expectations(up)
    return man
