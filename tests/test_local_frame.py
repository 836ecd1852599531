"""``session.local_frame``: driver-side rows as an Arrow-built local
relation."""

import time
from datetime import date, datetime

from json_schema_spark.session import local_frame

DDL = "m map<string,double>, xs array<string>, b boolean, d date, s string"
ROWS = [
    ({"a": 0.5, "b": None}, ["x", None], True, date(2024, 3, 1), "s"),
    ({}, [], False, date(1970, 1, 1), None),
    (None, None, None, None, None),
]


def test_local_frame_matches_create_dataframe(spark):
    """Maps, arrays, booleans, dates and nulls come back exactly as
    ``createDataFrame(list, ddl)`` gives them, from a local relation
    (no PythonRDD, so no Python worker reads it)."""
    got = local_frame(spark, ROWS, DDL)
    ref = spark.createDataFrame(ROWS, DDL)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    plan = got._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_local_frame_empty_has_no_partitions(spark):
    empty = local_frame(spark, [], DDL)
    assert empty.schema == spark.createDataFrame([], DDL).schema
    assert empty._jdf.rdd().getNumPartitions() == 0
    assert empty.collect() == []


def test_local_frame_naive_timestamp_is_local_time(spark, monkeypatch):
    """A naive datetime means local time, as in ``createDataFrame`` and
    in what ``collect`` returns, also when local time is not UTC."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [(datetime(2024, 3, 1, 12, 30),), (None,)]
        got = local_frame(spark, rows, "t timestamp")
        assert got.collect() == spark.createDataFrame(rows, "t timestamp").collect()
        assert got.collect()[0]["t"] == rows[0][0]
    finally:
        monkeypatch.undo()
        time.tzset()
