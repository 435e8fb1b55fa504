"""Output checks, run outside every timed window.

Registry steps are compared with the engine's DuckDB oracle SQL run over
the same generated tables: row count plus an order-insensitive value hash.
The normalisation follows ``tools/check_oracle.py``: columns sorted by
name, ``Decimal`` read as float, rows sorted, values compared exactly
(``3 == 3.0`` and NULL == NaN == NaT, as that script's element compare
treats them).

Workbench lifecycle steps are compared with counts derived from the
upload generator's per-row labels (``gen.upload_expectations``).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import numpy as np
import pandas as pd


def _canon(v):
    """One hashable, engine-independent value."""
    if v is None:
        return None
    if isinstance(v, (np.generic,)):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return _canon(v.asDict())
    if v is pd.NaT:
        return None
    if isinstance(v, (dt.datetime, dt.date)):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if hasattr(v, "to_pydatetime"):
        return _canon(v.to_pydatetime())
    return v


def digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive value hash) of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(v) for v in r)
            for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]
    return len(rows), h


def oracle_digests(sf_dir: str, names: list[str], tables: list[str]) -> dict:
    """Expected (rows, hash) per registry step from its DuckDB oracle."""
    import duckdb

    from dataqtor_spark.queries import ORACLES

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for n in names:
        rows, h = digest(con.execute(ORACLES[n]).fetchdf())
        out[n] = {"rows": rows, "hash": h, "source": "duckdb-oracle"}
    con.close()
    return out


def check_registry(pdf, expected: dict) -> str | None:
    """None when the step output matches; else a one-line reason."""
    rows, h = digest(pdf)
    if rows != expected["rows"]:
        return f"rows {rows} != expected {expected['rows']}"
    if h != expected["hash"]:
        return f"value hash {h} != expected {expected['hash']}"
    return None


def _detect_counts(pdf) -> dict:
    return {r["rule"]: [int(r["total_records"]), int(r["null_records"]),
                        int(r["out_of_format_records"])]
            for r in pdf.to_dict("records")}


def check_lifecycle(step: str, out, exp: dict) -> str | None:
    """Check one workbench lifecycle step's output against the labels."""
    if step == "wb.load":
        return None if out == exp["rows"] else f"loaded {out} rows != {exp['rows']}"
    if step == "wb.profile":
        got = {r["column"]: (int(r["total_records"]), int(r["null_records"]))
               for r in out.to_dict("records")}
        want = {c: (exp["rows"], n) for c, n in exp["nulls"].items()}
        return None if got == want else f"profile (total, nulls) {got} != {want}"
    if step == "wb.null_profile":
        got = {r["column"]: int(r["null_records"]) for r in out.to_dict("records")}
        return None if got == exp["nulls"] else f"null counts {got} != {exp['nulls']}"
    if step in ("wb.detect", "wb.detect_after"):
        want = exp["detect_before" if step == "wb.detect" else "detect_after"]
        got = _detect_counts(out)
        return None if got == want else f"rule counts {got} != {want}"
    if step == "wb.report":
        got = sorted(set(int(m) for m in out["measurement"]))
        if got != [0, 1] or len(out) != 2 * len(exp["detect_before"]):
            return f"report has {len(out)} rows over measurements {got}"
        after = _detect_counts(out[out["measurement"] == 1])
        return None if after == exp["detect_after"] else f"report after {after}"
    if step == "wb.save":
        n, gender = out
        if n != exp["kept_rows"]:
            return f"saved {n} rows != {exp['kept_rows']}"
        return None if gender == exp["gender"] else f"gender {gender} != {exp['gender']}"
    raise ValueError(f"no check for step {step}")
