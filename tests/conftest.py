import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dataqtor_spark.session import get_spark

    s = get_spark("dataqtor-tests")
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from dataqtor_spark.queries import _t

    names = ["region", "nation", "customer", "supplier", "part",
             "orders", "lineitem", "events", "documents", "embeddings"]
    return {n: _t(spark, SF_DIR, n) for n in names}


@pytest.fixture
def checkpoint_calls(spark, monkeypatch):
    """Names of the DataFrame checkpoint methods called during the test
    (``"checkpoint"`` / ``"localCheckpoint"``), in call order — which
    flavour ``session.barrier`` picked."""
    cls = type(spark.range(1))
    calls = []

    def spy(name):
        real = getattr(cls, name)

        def wrapper(self, *a, **k):
            calls.append(name)
            return real(self, *a, **k)
        return wrapper

    for name in ("checkpoint", "localCheckpoint"):
        monkeypatch.setattr(cls, name, spy(name))
    return calls


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """The py4j round trips (``GatewayClient.send_command``) made during
    the test, one entry per call: the command's first line (``"c"`` call,
    ``"r"`` reflection, ``"m"`` memory — the garbage-collector detaches,
    which land whenever Python's GC runs)."""
    from py4j.java_gateway import GatewayClient

    real = GatewayClient.send_command
    calls = []

    def counting(self, command, *a, **k):
        calls.append(command.split("\n", 1)[0])
        return real(self, command, *a, **k)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    return calls
