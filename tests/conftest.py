from __future__ import annotations

import os
import sys
import threading

import pytest

# this checkout's package, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_schema_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="jss-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(group, fn, *args, **kwargs)`` runs ``fn`` under a
    fresh job group; returns the number of Spark jobs it started and
    its result."""
    sc = spark.sparkContext

    def count(group: str, fn, *args, **kwargs):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return count


@pytest.fixture()
def count_py4j(monkeypatch):
    """``count_py4j(fn, *args, **kwargs)`` runs ``fn``; returns the
    number of py4j round trips to the JVM it made on this thread and its
    result. The py4j finalizer thread's object deletes are not counted."""
    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command
    me = threading.get_ident()
    n = 0

    def counting(self, *args, **kwargs):
        nonlocal n
        n += threading.get_ident() == me
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)

    def count(fn, *args, **kwargs):
        nonlocal n
        n = 0
        out = fn(*args, **kwargs)
        return n, out

    return count


@pytest.fixture(scope="session")
def webpages(spark):
    """Deterministic 5k-row synthetic webpage table (FIXTURES.md §1)."""
    from json_schema_spark.sources.tables import synth_webpages

    df = synth_webpages(spark, 5000, seed=42, partitions=8)
    df.persist()
    df.count()
    yield df
    df.unpersist()
