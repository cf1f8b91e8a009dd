from __future__ import annotations

import contextlib
import gc
import os
import sys
import time
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_iceberg_pipeline_stock_tracker_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _drain_py4j_finalizer(timeout=30.0):
    """Collect garbage and wait until py4j's FinalizerWorker has sent every
    queued release of a JVM object, so that objects freed before a counted
    block do not land in its count."""
    from pyspark import SparkContext

    gc.collect()
    gateway = SparkContext._gateway
    pending = getattr(getattr(gateway, "_gateway_client", None), "finalizer_deque", None)
    if pending is None:
        return
    deadline = time.monotonic() + timeout
    while pending and time.monotonic() < deadline:
        time.sleep(0.01)
    # The worker pops a release before sending it; let the last one land.
    time.sleep(0.05)


@pytest.fixture()
def count_round_trips():
    """Context manager counting py4j round trips (Python -> driver JVM
    commands) made inside its block. Releases queued before the block are
    sent first; gc is off in the block so that cyclic garbage collected in it
    does not add to the count."""
    from py4j.clientserver import ClientServerConnection

    @contextlib.contextmanager
    def counting():
        _drain_py4j_finalizer()
        trips = SimpleNamespace(count=0)
        send = ClientServerConnection.send_command

        def counted_send(conn, command, *args, **kwargs):
            trips.count += 1
            return send(conn, command, *args, **kwargs)

        gc_was_enabled = gc.isenabled()
        gc.disable()
        ClientServerConnection.send_command = counted_send
        try:
            yield trips
        finally:
            ClientServerConnection.send_command = send
            if gc_was_enabled:
                gc.enable()

    return counting
