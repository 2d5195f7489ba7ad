import contextlib
import os
import threading

import pytest

from langchain_memvid_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("memvid-spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_handle(spark):
    """Alias used by hypothesis @given tests (session-scoped, so the
    function_scoped_fixture health check stays quiet)."""
    return spark


@pytest.fixture
def py4j_calls(spark):
    """Counts driver->JVM round trips: ``with py4j_calls() as n: ...``
    leaves in ``n[0]`` the py4j commands the calling thread sent inside
    the block. Commands from other threads (py4j's finalizer releasing
    Java objects) are not counted."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    @contextlib.contextmanager
    def counting():
        n = [0]
        me = threading.get_ident()

        def send_counted(*args, **kwargs):
            if threading.get_ident() == me:
                n[0] += 1
            return send(*args, **kwargs)

        client.send_command = send_counted
        try:
            yield n
        finally:
            client.send_command = send

    return counting
