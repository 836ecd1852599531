"""SparkSession factory with engine defaults tuned for scale.

The knobs here are the ones that matter at 100 TB: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for
every JVM<->Python boundary, and shuffle partitions sized to the
parallelism (overridable; on a real cluster set ~2-3x total cores or
rely on AQE coalescing from a high initial value).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "json-schema-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_table(rows: Iterable[tuple], schema: StructType):
    """A driver-side list of row tuples as a ``pyarrow.Table`` of
    ``to_arrow_schema(schema)``. A ``datetime`` in a timestamp column
    goes in as ``createDataFrame`` takes it, a naive one as local time:
    pyarrow would store its wall-clock time as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def array(values: tuple, typ):
        if pa.types.is_timestamp(typ) and typ.tz is not None:
            values = [v.astimezone(timezone.utc) if isinstance(v, datetime) else v
                      for v in values]
        return pa.array(list(values), type=typ)

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.Table.from_arrays(
        [array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                ddl: str) -> DataFrame:
    """A driver-side list of row tuples as a DataFrame of schema ``ddl``.

    The rows go in as a ``pyarrow.Table`` (:func:`arrow_table`), which
    Spark turns into a local relation whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says: reading it
    starts no Python worker, and an empty list gives a relation with no
    partitions. ``createDataFrame(list, ddl)`` instead parallelizes the
    rows through a PythonRDD, whose tasks a later ``coalesce(1)`` runs
    one after another."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
