"""Storable heavy-hitter summaries per partition, on Spark's native
frequent-items sketch (DataSketches ``ItemsSketch``, a Misra-Gries
variant), beside the KLL quantile sketches of
:mod:`json_schema_spark.operators.tdigest`.

`operators/stats.py` already answers the question exactly
(`heavy_hitters`); what it does not give you is a sketch you can KEEP.
``approx_top_k_accumulate`` yields a struct holding the sketch binary,
so per-partition summaries persist to the results
:class:`~json_schema_spark.sources.icetable.IceTable` as rows of
:data:`MG_SCHEMA` and merge across runs (``approx_top_k_combine``):
"top domains this quarter" costs one scan of the NEW partition plus a
metadata-sized merge of stored summaries — never a rescan of history.
Distinct counts use Spark's storable HLL (``hll_sketch_agg`` /
``hll_union_agg``) the same way.

Plan shape: one ``groupBy(partition)`` aggregate. The sketch is a
partial aggregate, so each task folds its rows into one sketch per
partition value before the shuffle, which carries at most m counters
per sketch, never rows. No Python runs over the values.

Accuracy: a sketch tracking m items counts exactly while its partition
holds at most m distinct values (the exact regime). Beyond that it
evicts the smallest counters: any item more frequent than about n/m
survives with an estimate within about n/m of its true count, and
items below that error are not reported.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MG_SCHEMA = ("partition string, sketch struct<sketch:binary,maxItemsTracked:int,"
             "itemDataType:string,itemDataTypeDDL:string>, n_rows long")


def mg_topk_by_partition(
    df: DataFrame, value: str | Column, by: str | Column, m: int = 64,
) -> DataFrame:
    """One frequent-items sketch row per partition (MG_SCHEMA) tracking
    up to m items of ``value`` (compared as strings)."""
    val = F.col(value) if isinstance(value, str) else value
    part = F.col(by) if isinstance(by, str) else by
    return (
        df.where(val.isNotNull() & part.isNotNull())
        .groupBy(part.cast("string").alias("partition"))
        .agg(F.call_function("approx_top_k_accumulate", val.cast("string"), F.lit(m))
             .alias("sketch"),
             F.count(F.lit(1)).alias("n_rows"))
    )


def mg_topk(summaries: DataFrame, k: int) -> DataFrame:
    """The k most frequent items of each partition as (partition, item,
    count), from rows of MG_SCHEMA; a partition's rows (one per stored
    run) merge first."""
    merged = summaries.groupBy("partition").agg(
        F.call_function("approx_top_k_combine", F.col("sketch")).alias("sketch"))
    return merged.select(
        "partition",
        F.explode(F.call_function("approx_top_k_estimate", F.col("sketch"), F.lit(k)))
        .alias("top"),
    ).select("partition", "top.item", "top.count")
