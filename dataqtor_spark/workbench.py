"""The reference workbench's three pages as one facade (SURVEY §3 E1–E3):
Profiler → Detector → Corrector, for users switching from the reference.

    wb = Workbench.load(spark, "data.csv")          # upload (E1)
    wb.profile()                                    # Data Profiler page
    wb.detect([rules.rule_email("email")])          # DQ Detector (E2)
    (wb.title_case("name").find_replace("city", "Ist", "İst")
       .drop_rows([13]))                            # Corrector (E3)
    wb.detect([...])                                # re-measure → "after"
    wb.report()                                     # before/after + overall
    wb.save("clean.parquet")                        # download

The reference mutates one cached table in place; here every correction is
a lineage step on an immutable head (RepairSession) over the upload, which
``load`` pins once.  ``detect()`` runs its one fused aggregate at call
time (the overall score in the same job) and keeps the result rows;
``report()`` builds the before/after table from the kept rows without
rescanning any lineage point.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataqtor_spark import session as S
from dataqtor_spark.operators import profile as P
from dataqtor_spark.operators import repair as RP
from dataqtor_spark.operators import rules as R


class Workbench:
    """One dataset + its measurement/repair lifecycle."""

    def __init__(self, df: DataFrame):
        self._sess = RP.RepairSession(df)
        # one frame over local rows per detect(): its scored_rules rows,
        # tagged with the measurement number
        self._measurements: list[DataFrame] = []

    # --- E1: upload -------------------------------------------------------

    @classmethod
    def load(cls, spark: SparkSession, path: str, **kw) -> "Workbench":
        return cls(S.ingest(spark, path, **kw))

    @property
    def df(self) -> DataFrame:
        return self._sess.df

    # --- E2: profile + detect ---------------------------------------------

    def profile(self, cols: list[str] | None = None) -> DataFrame:
        return P.profile_columns(self.df, cols)

    def null_profile(self, cols: list[str] | None = None) -> DataFrame:
        return P.null_profile(self.df, cols)

    def detect(self, rules: list[R.Rule]) -> DataFrame:
        """Evaluate rules on the current head now: one aggregate job, which
        also computes the overall score.  The result rows are kept so
        ``report`` can show the before/after progression (A15) without
        rescanning; the returned DataFrame reads those rows."""
        scored = R.scored_rules(self.df, rules).withColumn(
            "measurement", F.lit(len(self._measurements)))
        kept = self.df.sparkSession.createDataFrame(scored.toArrow(),
                                                    scored.schema)
        self._measurements.append(kept)
        return kept.drop("overall_dq_score")

    def report(self) -> DataFrame:
        """All kept measurements (the before/after table), with the
        overall score per measurement (A16) — built from the rows each
        ``detect`` kept, no rule scan runs."""
        if not self._measurements:
            raise ValueError("no measurements yet — call detect() first")
        out = functools.reduce(DataFrame.unionByName, self._measurements)
        return out.select("measurement",
                          *[c for c in out.columns if c != "measurement"])

    # --- E3: corrector (each returns self for chaining) --------------------

    def _apply(self, fn, *a, **kw) -> "Workbench":
        self._sess.apply(fn, *a, **kw)
        return self

    def title_case(self, col: str): return self._apply(RP.title_case, col)
    def lower_case(self, col: str): return self._apply(RP.lower_case, col)
    def upper_case(self, col: str): return self._apply(RP.upper_case, col)
    def collapse_spaces(self, col: str): return self._apply(RP.collapse_spaces, col)
    def strip_chars(self, col, chars=None): return self._apply(RP.strip_chars, col, chars)
    def find_replace(self, col, find, rep): return self._apply(RP.find_replace, col, find, rep)
    def remap_value(self, col, old, new): return self._apply(RP.remap_value, col, old, new)
    def fill_nulls(self, col, value): return self._apply(RP.fill_nulls, col, value)
    def update_cell(self, row_id, col, value): return self._apply(RP.update_cell, row_id, col, value)
    def drop_rows(self, row_ids): return self._apply(RP.drop_rows, row_ids)
    def drop_column(self, col): return self._apply(RP.drop_column, col)
    def project(self, cols): return self._apply(RP.project, cols)
    def sort_rows(self, cols, ascending=None): return self._apply(RP.sort_rows, cols, ascending)
    def search(self, col, op, value=None, **kw) -> DataFrame:
        return RP.search(self.df, col, op, value, **kw)

    def checkpoint(self) -> "Workbench":
        self._sess.checkpoint()
        return self

    # --- expectation-suite shortcuts (rules v2 + suggestion) ---------------

    def suggest_constraints(self, cols: list[str] | None = None) -> DataFrame:
        """Profile → proposed expectations (deequ-style); feed back into
        detect() as rules on the next batch."""
        from dataqtor_spark.operators import profile as P

        return P.suggest_constraints(self.df, cols)

    def unique_key(self, key_cols: list[str]) -> DataFrame:
        """Composite-key uniqueness violations."""
        return R.unique_key_violations(self.df, key_cols)

    def completeness_by(self, value_col: str, group_col: str) -> DataFrame:
        """Per-group null-rate slice of one column."""
        return R.group_completeness(self.df, value_col, group_col)

    def diff_against(self, other: "Workbench | DataFrame",
                     key_cols: list[str],
                     compare_cols: list[str]) -> DataFrame:
        """Keyed snapshot diff vs another table version (added / removed /
        changed, null-safe)."""
        from dataqtor_spark.operators import scd as SCD

        o = other.df if isinstance(other, Workbench) else other
        return SCD.snapshot_diff(o, self.df, key_cols, compare_cols)

    # --- download ----------------------------------------------------------

    def save(self, path: str, fmt: str = "parquet", **kw) -> None:
        S.write_dataset(self.df, path, fmt=fmt, **kw)
