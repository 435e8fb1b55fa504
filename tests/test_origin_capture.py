"""DataFrame origin capture is off in engine sessions.

With ``spark.python.sql.dataFrameDebugging.enabled`` on, PySpark wraps
every ``F.*``/``Column`` call in extra py4j round trips that record the
Python call site; ``get_spark`` turns it off.  These tests pin the conf,
the round-trip budget of building the workbench rule set, and that
analysis errors still raise.
"""
import pytest
from pyspark.errors import AnalysisException

from dataqtor_spark.operators import rules as R

_UPLOAD = ("id long, full_name string, email string, phone string, "
           "tcid string, taxnum string, city string, birth_date string")


def _workbench_rules():
    return [R.rule_email("email", name="email"),
            R.rule_phone_tr("phone", name="phone"),
            R.rule_tcid("tcid", name="tcid"),
            R.rule_taxnum("taxnum", name="taxnum"),
            R.rule_domain("city", name="city"),
            R.rule_length("full_name", "between", low=5, high=40,
                          name="name_len")]


def test_get_spark_turns_origin_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_rule_build_round_trip_budget(spark, py4j_calls):
    """Building the six upload rules and their fused summary over an
    8-column frame takes about 2.3k round trips without origin capture
    and about 8.3k with it on PySpark 4.1 (garbage-collector detaches
    not counted)."""
    df = spark.createDataFrame(
        [(1, "Ayse Yilmaz", "a@b.com", "5321234567", "10000000146",
          "1234567890", "Istanbul", "1990-01-01")], _UPLOAD)
    py4j_calls.clear()
    R.evaluate_rules(df, _workbench_rules())
    sent = [c for c in py4j_calls if c != "m"]
    assert 0 < len(sent) <= 3000, len(sent)


def test_missing_column_still_raises(spark):
    df = spark.createDataFrame([(1, "a@b.com")], "id long, email string")
    with pytest.raises(AnalysisException):
        R.evaluate_rules(df, [R.rule_email("no_such_column")]).collect()
