"""End-to-end workbench lifecycle: the reference's upload → profile →
detect → correct → re-detect → report → download loop."""

import operator

import pyspark.sql.functions as F

from dataqtor_spark import Workbench
from dataqtor_spark.operators import rules as R


def test_full_lifecycle(spark, tables, tmp_path):
    src_path = str(tmp_path / "cust_src")
    tables["customer"].write.mode("overwrite").parquet(src_path)

    wb = Workbench.load(spark, src_path, row_id_order=["c_custkey"])
    n0 = wb.df.count()

    prof = wb.profile(["c_acctbal", "c_mktsegment"]).collect()
    assert {r["column"] for r in prof} == {"c_acctbal", "c_mktsegment"}

    rules = [R.rule_forbidden_values("c_mktsegment", ["MACHINERY"], name="seg")]
    before = wb.detect(rules).collect()[0]
    assert before["out_of_format_records"] > 0

    wb.remap_value("c_mktsegment", "MACHINERY", "HEAVY EQUIPMENT")
    after = wb.detect(rules).collect()[0]
    assert after["out_of_format_records"] == 0
    assert after["dq_score"] > before["dq_score"]

    rep = wb.report().collect()
    assert {r["measurement"] for r in rep} == {0, 1}
    by_m = {r["measurement"]: r["overall_dq_score"] for r in rep}
    assert by_m[1] >= by_m[0]

    # search + cell edit by row id
    hit = wb.search("__row_id", "row_id", 7).collect()
    assert len(hit) == 1
    wb.update_cell(7, "c_name", "EDITED")
    assert wb.search("c_name", "==", "EDITED").count() == 1

    out_path = str(tmp_path / "cust_out")
    wb.save(out_path)
    back = spark.read.parquet(out_path)
    assert back.count() == n0
    assert "__row_id" not in back.columns  # stripped on download


def test_readme_quickstart(spark, tmp_path):
    """The README 'Quick start' snippet, verbatim (plus asserts), over the
    sf0.001 test data — mirrors the reference's E2→E3 loop: profile →
    rule → repair → before/after score (home.py's Detector/Corrector
    pages)."""
    from dataqtor_spark import Workbench
    from dataqtor_spark.operators import rules

    wb = Workbench.load(spark, "/root/testdata/sf0.001/customer.parquet",
                        row_id_order=["c_custkey"])
    prof = wb.profile(["c_acctbal", "c_mktsegment"])
    assert {r["column"] for r in prof.collect()} == {"c_acctbal",
                                                     "c_mktsegment"}
    seg_rule = rules.rule_forbidden_values("c_mktsegment", ["MACHINERY"])
    before = wb.detect([seg_rule]).collect()[0]
    wb.remap_value("c_mktsegment", "MACHINERY", "HEAVY EQUIPMENT")
    after = wb.detect([seg_rule]).collect()[0]
    assert before["out_of_format_records"] > 0
    assert after["out_of_format_records"] == 0
    rep = wb.report().collect()
    by_m = {r["measurement"]: r["overall_dq_score"] for r in rep}
    assert by_m[1] > by_m[0]
    wb.save(str(tmp_path / "clean.parquet"))
    assert spark.read.parquet(str(tmp_path / "clean.parquet")).count() \
        == wb.df.count()


def test_workbench_expectation_shortcuts(spark, tmp_path):
    import pyspark.sql.functions as F

    from dataqtor_spark.workbench import Workbench

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", None), (2, "b", 3.0)],
        "id long, cat string, v double")
    wb = Workbench(df)
    sug = {(r["column"], r["constraint"])
           for r in wb.suggest_constraints().collect()}
    assert ("cat", "isin") in sug and ("id", "not_null") in sug
    dup = wb.unique_key(["id"]).collect()
    assert len(dup) == 1 and dup[0]["n_rows"] == 2
    comp = {r["cat"]: r["null_pct"]
            for r in wb.completeness_by("v", "cat").collect()}
    assert comp["b"] == 50.0
    v2 = Workbench(df.withColumn("v", F.coalesce("v", F.lit(0.0))))
    d = v2.diff_against(wb, ["id", "cat", "v"], ["v"])
    assert d.count() >= 1  # the null-fill shows up as add+remove on the key


def test_render_report_markdown(spark):
    from dataqtor_spark.operators import repair as RP
    from dataqtor_spark.operators import rules as R
    from dataqtor_spark.workbench import Workbench

    df = spark.createDataFrame(
        [(1, "a b"), (2, "xy"), (3, None)], "id long, name string")
    wb = Workbench(df)
    wb.detect([R.rule_no_spaces("name")])
    wb.collapse_spaces("name").find_replace("name", " ", "")
    wb.detect([R.rule_no_spaces("name")])
    md = RP.render_report_markdown(wb.report())
    assert "# Data-quality report" in md and "Measurement 0" in md
    assert "Overall change: " in md and "name_no_spaces" in md
    # after repair the score improved, so the change is positive
    assert "Overall change: +" in md


def test_snapshot_diff_common_cols_and_schema_changes(spark):
    from dataqtor_spark.operators import scd as SCD

    old = spark.createDataFrame([(1, 1.0, "x")], "k int, v double, gone string")
    new = spark.createDataFrame([(1, 2.0, 5)], "k int, v double, added int")
    # compare_cols=None -> only common non-key column v is compared
    d = SCD.snapshot_diff(old, new, ["k"]).collect()
    assert len(d) == 1 and d[0]["change_type"] == "changed"
    ch = SCD.schema_changes(old, new)
    assert {(c["column"], c["change"]) for c in ch} == {
        ("gone", "removed"), ("added", "added")}


def test_suggestion_verify_roundtrip_and_drift(spark):
    from dataqtor_spark.operators import profile as P
    from dataqtor_spark.operators import rules as R

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 7.5), (3, "a", 2.0)],
        "id long, cat string, v double")
    sug = P.suggest_constraints(df)
    # same data: every suggestion must verify
    res = R.verify_suggestions(df, sug).collect()
    assert res and all(r["passed"] for r in res)
    # drifted data: new max above stored bound + a null in id fails
    drift = spark.createDataFrame(
        [(None, "a", 99.0)], "id long, cat string, v double")
    res2 = {(r["column"], r["constraint"]): r["passed"]
            for r in R.verify_suggestions(df.unionByName(drift), sug).collect()}
    assert res2[("v", "max_le")] is False
    assert res2[("id", "not_null")] is False
    assert res2[("cat", "isin")] is True  # domain unchanged


def test_repair_session_audit_log(spark):
    from dataqtor_spark.operators import repair as RP

    df = spark.createDataFrame([(1, "  a  b ")], "id long, name string")
    s = RP.RepairSession(df)
    s.apply(RP.collapse_spaces, "name").apply(RP.upper_case, "name")
    log = s.audit_log()
    assert [e["op"] for e in log] == ["collapse_spaces", "upper_case"]
    assert log[0]["step"] == 0 and "'name'" in log[0]["args"]


def test_metrics_repository_anomaly_detection(spark, tmp_path):
    import pyspark.sql.functions as F

    from dataqtor_spark.operators import metrics_repo as MR
    from dataqtor_spark.operators import profile as P

    path = str(tmp_path / "metrics")
    # three near-stable runs (null count 10/11/12), then a spike to 50
    for k, run in [(10, "r1"), (11, "r2"), (12, "r3")]:
        base = [(i, None if i < k else float(i % 7)) for i in range(100)]
        df = spark.createDataFrame(base, "id long, v double")
        MR.save_metrics(MR.metrics_from_profile(
            P.null_profile(df, ["v"]), run), path)
    spiked = spark.createDataFrame(
        [(i, None if i % 2 else 1.0) for i in range(100)], "id long, v double")
    MR.save_metrics(MR.metrics_from_profile(
        P.null_profile(spiked, ["v"]), "r4"), path)

    hist = MR.load_history(spark, path)
    res = {r["metric"]: r for r in
           MR.metric_anomalies(hist, "r4", z_threshold=3.0).collect()}
    assert res["null_records"]["is_anomaly"]
    assert res["total_records"]["is_anomaly"] is False  # constant metric
    # constant history -> zero variance -> NULL z, never a false alarm
    assert res["total_records"]["z"] is None


def _upload(spark, n=300):
    return spark.range(0, n).select(
        F.col("id"),
        F.when(F.col("id") % 7 == 0, None)
         .otherwise(F.concat(F.lit("n "), F.col("id").cast("string")))
         .alias("name"),
        (F.col("id") % 13).alias("v"))


def _upload_rules():
    return [R.rule_no_digits("name", name="no_digits"),
            R.rule_no_spaces("name", name="no_spaces"),
            R.rule_compare("v", ">=", 3, name="v_ge_3")]


def test_workbench_survives_overwritten_upload(spark, tmp_path):
    """The upload is pinned once at load: overwriting the source file
    after the first detect does not break later steps (no row_id_order,
    so the row ids are monotonically_increasing_id)."""
    src = str(tmp_path / "upload")
    _upload(spark).write.parquet(src)
    wb = Workbench.load(spark, src)
    first = wb.detect(_upload_rules()).collect()

    _upload(spark, 50).write.mode("overwrite").parquet(src)
    wb.fill_nulls("name", "filled")
    after = {r["rule"]: r for r in wb.detect(_upload_rules()).collect()}
    assert after["no_digits"]["total_records"] == 300
    assert after["no_digits"]["null_records"] == 0

    rep = wb.report().collect()
    m0 = [r.asDict() for r in rep if r["measurement"] == 0]
    for r in m0:
        del r["overall_dq_score"]
    by_rule = operator.itemgetter("rule")
    assert sorted(m0, key=by_rule) == sorted((r.asDict() for r in first),
                                             key=by_rule)


def test_detect_and_report_match_lazy_evaluation(spark):
    """detect() rows equal a lazy evaluate_rules collect, and report()'s
    overall score equals groupBy(measurement) + round(avg(dq_score), 2)
    over the same rows."""
    wb = Workbench(_upload(spark))
    detected = wb.detect(_upload_rules())
    lazy = (R.evaluate_rules(wb.df, _upload_rules())
            .withColumn("measurement", F.lit(0)))
    assert detected.schema == lazy.schema
    assert sorted(detected.collect()) == sorted(lazy.collect())

    wb.fill_nulls("name", "x").find_replace("name", " ", "")
    wb.detect(_upload_rules())
    rep = wb.report()
    summary = rep.drop("overall_dq_score")
    old = summary.join(
        summary.groupBy("measurement")
        .agg(F.round(F.avg("dq_score"), 2).alias("overall_dq_score")),
        "measurement")
    assert rep.columns == old.columns
    assert sorted(rep.collect()) == sorted(old.collect())
    overall = {r["measurement"]: r["overall_dq_score"] for r in rep.collect()}
    assert overall[1] > overall[0]


def test_report_reads_only_kept_rows(spark):
    """After two detects, report() plans over local rows only: no file
    scan, no RDD, no rule re-evaluation."""
    wb = Workbench(_upload(spark))
    wb.detect(_upload_rules())
    wb.fill_nulls("name", "x")
    wb.detect(_upload_rules())
    plan = wb.report()._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
    assert names == {"LocalRelation"}, names


def test_pinned_upload_plans_skip_row_id_replay(spark, tmp_path):
    """With row_id_order, the row-id plan (partition-id exchange, row
    number window, carry join) runs once at load; later steps read the
    pin."""
    src = str(tmp_path / "upload")
    _upload(spark).write.parquet(src)
    wb = Workbench.load(spark, src, row_id_order=["v", "id"])
    wb.drop_rows([1, 2, 3])
    for df in (wb.profile(), wb.df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "hashpartitioning(__pid" not in plan
    assert wb.df.count() == 297
