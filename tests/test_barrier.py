"""The one barrier primitive.

Every checkpoint the engine takes goes through ``session.barrier`` (each
call site imports it at call time), so one replacement of that function
reaches every operator family — the patch point the plan tools use to
elide barriers.  These tests pin both halves: no direct checkpoint call
outside ``session.py``, no tool patching DataFrame classes, and a
wrapped ``session.barrier`` actually seen by every family.
"""
import ast
import os

import pyspark.sql
from pyspark.sql import functions as F

from tests.test_r16_opt import _CC_WANT, _cc_pairs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CHECKPOINTS = {"checkpoint", "localCheckpoint"}


def _py_files(sub):
    for d, _dirs, files in os.walk(os.path.join(ROOT, sub)):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, ROOT), ast.parse(fh.read())


def test_no_direct_checkpoint_outside_session():
    """Only ``session.barrier`` calls ``checkpoint``/``localCheckpoint``.
    ``RepairSession.checkpoint`` (a persist of the repair state, receiver
    ``self._sess``) is not a barrier."""
    found = []
    for rel, tree in _py_files("dataqtor_spark"):
        if rel == os.path.join("dataqtor_spark", "session.py"):
            continue
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _CHECKPOINTS
                    and ast.unparse(node.func.value) != "self._sess"):
                found.append(f"{rel}:{node.lineno}")
    assert not found, f"direct checkpoint calls bypass session.barrier: {found}"


def test_tools_never_patch_dataframe_classes():
    """Tools replace ``session.barrier``, never a DataFrame class member
    (assignment or ``setattr`` to a name the DataFrame class defines)."""
    members = {n for n in dir(pyspark.sql.DataFrame) if not n.startswith("__")}
    found = []
    for rel, tree in _py_files("tools"):
        for node in ast.walk(tree):
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            for t in targets:
                if (isinstance(t, ast.Attribute) and t.attr in members
                        and ast.unparse(t.value) != "self"):
                    found.append(f"{rel}:{node.lineno} {ast.unparse(t)}")
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "setattr" and len(node.args) >= 2
                    and isinstance(node.args[1], ast.Constant)
                    and node.args[1].value in members):
                found.append(f"{rel}:{node.lineno} setattr")
    assert not found, f"tools patch DataFrame class members: {found}"


def test_every_family_routes_through_session_barrier(spark, monkeypatch,
                                                      tmp_path):
    """A wrapped ``session.barrier`` sees the ordered pin (lazy), the
    workbench upload pin (lazy, one more than the ordered row ids), the
    connected-components edges and rounds, and an eager dedup and
    textstats barrier — with results unchanged."""
    from dataqtor_spark import session
    from dataqtor_spark.operators import dedup as DD
    from dataqtor_spark.operators import textstats as TX
    from dataqtor_spark.operators.ordered import ordered_prefix
    from dataqtor_spark.workbench import Workbench

    nums = spark.range(0, 200).select(
        F.col("id"), ((F.col("id") * 13) % 17).alias("v"))
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "an entirely different sentence about spark"),
         (4, "another entirely different sentence about spark")],
        "doc_id long, text string")
    runs = {
        "ordered": lambda: {r["id"]: r["rn"] for r in ordered_prefix(
            nums, [F.col("v"), F.col("id")], out_rn="rn",
            partitions=4).collect()},
        "workbench": lambda: {r["id"]: r["__row_id"] for r in Workbench.load(
            spark, upload, row_id_order=["v", "id"]).df.collect()},
        "cc": lambda: {r["id"]: r["component"] for r in
                       DD.connected_components(_cc_pairs(spark)).collect()},
        "dedup": lambda: sorted(tuple(r) for r in DD.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=0.3,
            unbounded=True).collect()),
        "textstats": lambda: [tuple(r) for r in TX.bm25_search(
            docs, ["spark", "fox"]).collect()],
    }
    upload = str(tmp_path / "upload")
    nums.write.parquet(upload)
    want = {k: run() for k, run in runs.items()}
    assert want["cc"] == _CC_WANT

    real = session.barrier
    seen = []

    def counting(df, eager=True):
        seen.append(eager)
        return real(df, eager)

    monkeypatch.setattr(session, "barrier", counting)
    for key, run in runs.items():
        seen.clear()
        assert run() == want[key], key
        assert seen, f"{key}: session.barrier not reached"
        if key == "ordered":
            assert seen == [False]
        elif key == "workbench":
            assert seen == [False, False], "ordered pin + upload pin"
        else:
            assert all(seen), f"{key}: expected eager barriers, got {seen}"
        if key == "cc":
            assert len(seen) >= 2, "edges + at least one labels round"
