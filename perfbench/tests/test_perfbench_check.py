"""Output checks: order-insensitive digests, and rejection of perturbed
results for registry and lifecycle steps."""

import decimal

import numpy as np
import pandas as pd

from perfbench import check, gen


def _frame():
    return pd.DataFrame({"k": [3, 1, 2], "v": [0.5, None, 2.0],
                         "s": ["c", "a", "b"]})


def test_digest_ignores_row_and_column_order_and_engine_types():
    a = _frame()
    b = a.iloc[[2, 0, 1]][["s", "v", "k"]]
    b = b.assign(v=b["v"].map(lambda x: decimal.Decimal(str(x)) if x == x else np.nan))
    assert check.digest(a) == check.digest(b)


def test_registry_check_rejects_perturbed_result():
    expected = dict(zip(("rows", "hash"), check.digest(_frame())))
    assert check.check_registry(_frame(), expected) is None
    changed = _frame()
    changed.loc[0, "v"] = 0.5000001
    assert "hash" in check.check_registry(changed, expected)
    assert "rows" in check.check_registry(_frame().iloc[:2], expected)
    renamed = _frame().rename(columns={"s": "t"})
    assert check.check_registry(renamed, expected) is not None


def test_lifecycle_check_rejects_wrong_rule_counts(tmp_path):
    up = gen.write_upload(str(tmp_path / "u.csv"), seed=7, n_rows=400)
    exp = gen.upload_expectations(up)
    rows = [{"rule": r, "total_records": t, "null_records": n, "out_of_format_records": v}
            for r, (t, n, v) in exp["detect_before"].items()]
    good = pd.DataFrame(rows)
    assert check.check_lifecycle("wb.detect", good, exp) is None
    bad = good.copy()
    bad.loc[0, "out_of_format_records"] += 1
    assert "rule counts" in check.check_lifecycle("wb.detect", bad, exp)
    assert check.check_lifecycle("wb.save", (exp["kept_rows"] - 1, exp["gender"]), exp)


def test_lifecycle_check_rejects_wrong_profile_counts(tmp_path):
    up = gen.write_upload(str(tmp_path / "u.csv"), seed=7, n_rows=400)
    exp = gen.upload_expectations(up)
    good = pd.DataFrame([{"column": c, "total_records": exp["rows"], "null_records": n,
                          "distinct_values": 1} for c, n in exp["nulls"].items()])
    assert check.check_lifecycle("wb.profile", good, exp) is None
    for col in ("null_records", "total_records"):
        bad = good.copy()
        bad.loc[1, col] += 1
        assert "profile" in check.check_lifecycle("wb.profile", bad, exp)
    assert check.check_lifecycle("wb.profile", good.iloc[1:], exp) is not None


def test_upload_generator_is_seeded_and_labels_add_up(tmp_path):
    a = gen.write_upload(str(tmp_path / "a.csv"), seed=3, n_rows=500)
    b = gen.write_upload(str(tmp_path / "b.csv"), seed=3, n_rows=500)
    assert (tmp_path / "a.csv").read_bytes() == (tmp_path / "b.csv").read_bytes()
    assert a == b
    exp = gen.upload_expectations(a)
    assert exp["kept_rows"] == 500 - len(a["drop_ids"])
    assert sum(exp["gender"].values()) == exp["kept_rows"]
    for rule, (total, nulls, viol) in exp["detect_before"].items():
        assert total == 500 and nulls + viol < total, rule
    # the repairs only ever remove violations and nulls
    for rule, (_t, nulls, viol) in exp["detect_after"].items():
        before = exp["detect_before"][rule]
        assert nulls <= before[1] and viol <= before[2], rule
    assert exp["detect_after"]["city"][1] == 0
