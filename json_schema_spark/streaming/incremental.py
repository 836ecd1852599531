"""Incremental validation over Structured Streaming.

The reference has no streaming surface (SURVEY.md §2.5); this is the
engine extension for continuously-arriving crawl data: the SAME
compiled Column predicates run inside a ``readStream`` pipeline —
per-row violation rows stream out in append mode, and a
watermark-bounded windowed aggregation maintains per-(window, check)
violation counts for late-arriving pages.

Because the predicates are plain Columns, batch and streaming share
one compiler — nothing is reimplemented for the streaming path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_spark.compiler import CompiledSpec, violations_df
from json_schema_spark.spec import ConstraintSpec


def read_page_stream(
    spark: SparkSession, input_dir: str, schema: T.StructType,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """File-source stream of web pages (one parquet file = one
    micro-batch unit; maxFilesPerTrigger bounds batch size so state
    stays executor-memory-sized at any backlog)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def streaming_violations(
    stream: DataFrame, compiled: CompiledSpec,
    id_cols: list[str], run_id: str = "stream",
) -> DataFrame:
    """Stateless per-row violation stream: the same projection as the
    batch path (violations_df) — safe in append mode, no state store."""
    return violations_df(stream, compiled, id_cols=id_cols, run_id=run_id)


def windowed_violation_counts(
    stream: DataFrame, compiled: CompiledSpec,
    ts_col: str = "warc_ts", window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked tumbling-window violation counts per check.

    Late rows within the watermark update their window; beyond it the
    window is finalized and dropped from the state store — bounded
    state, the only shape that survives an unbounded stream.
    """
    # positional aliases, as verdict_df does: (column, keyword) pairs
    # are NOT unique (a $ref target can share a keyword with a
    # sibling), and duplicate agg names break file sinks
    aggs = [
        F.sum((~c.predicate).cast("long"))
        .alias(f"chk{i}_{c.column}_{c.keyword}".replace(".", "_"))
        for i, c in enumerate(compiled.checks)
    ] + [F.count(F.lit(1)).alias("n_rows")]
    return (
        stream.where(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), "*")
        .drop("w")
    )


def run_incremental(
    spark: SparkSession,
    input_dir: str,
    spec: ConstraintSpec | dict,
    schema: T.StructType,
    output_dir: str,
    checkpoint_dir: str,
    id_cols: tuple[str, ...] = ("url",),
) -> None:
    """One availableNow pass: validate every unseen file and append
    violation rows to ``output_dir``, exactly-once through the
    streaming checkpoint (the batch runner gets the same from its
    verdict commit)."""
    from json_schema_spark.compiler import compile_spec

    probe = spark.createDataFrame([], schema)
    compiled = compile_spec(spec, probe)
    stream = read_page_stream(spark, input_dir, schema)
    viol = streaming_violations(stream, compiled, id_cols=id_cols)
    q = (
        viol.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _sink_exactly_once(stream: DataFrame, table, checkpoint_dir: str,
                       to_rows=lambda batch_df: batch_df) -> None:
    """Run ``stream`` to completion (availableNow), appending
    ``to_rows(batch)`` to ``table`` as one snapshot per micro-batch.

    Structured Streaming replays the in-flight micro-batch after a
    crash between sink write and checkpoint commit. The commit is made
    idempotent the Iceberg way: each snapshot records its
    ``stream_batch_id`` in the summary, and a replayed batch id is
    skipped before any data is staged — the snapshot log doubles as
    the sink's transaction log.

    Batch ids are namespaced by the streaming QUERY id (read from the
    checkpoint's metadata file, where Structured Streaming persists
    it): a bare batch_id restarts at 0 after a checkpoint reset and
    would collide with prior snapshots, silently skipping every new
    batch. The query id survives restarts of the same checkpoint and
    changes on reset/second streams — exactly the dedup scope wanted.
    """
    import json as _json
    import os as _os

    def _query_id() -> str:
        # written by Structured Streaming at query start, before any
        # batch reaches foreachBatch
        with open(_os.path.join(checkpoint_dir, "metadata")) as f:
            return _json.load(f)["id"]

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        key = f"{_query_id()}/{batch_id}"
        seen = {s["summary"].get("stream_batch_id")
                for s in table.snapshots()}
        if key in seen:
            return  # replay of a committed batch: exactly-once no-op
        table.append(to_rows(batch_df), summary={"stream_batch_id": key})

    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_to_icetable(
    viol_stream: DataFrame,
    table,
    checkpoint_dir: str,
) -> None:
    """Sink a (violation) stream into an Iceberg-style snapshot table
    with exactly-once batch commits (see :func:`_sink_exactly_once`).
    A plain parquet sink tolerates a replayed micro-batch only because
    its files are keyed by batch; here the snapshot log is the guard."""
    _sink_exactly_once(viol_stream, table, checkpoint_dir)


def stream_digests_to_icetable(
    stream: DataFrame,
    table,
    checkpoint_dir: str,
    value_col: str,
    partition_col: str,
    k: int = 200,
) -> None:
    """Per-micro-batch KLL sketch commits: each batch folds to one
    sketch row per partition value (O(batch) compute, history never
    rescanned) and lands as one exactly-once IceTable snapshot — the
    streaming front half of the incremental-drift story. Sketches are
    MERGEABLE, so the stored table accumulates one row per
    (batch, partition) and any later reader (KS, quantiles) merges
    them — bit-equal to a batch rebuild in the exact regime (at most
    k rows in all), tested in tests/test_runner_streaming.py.

    Same exactly-once commit as :func:`stream_to_icetable`: a replayed
    batch is skipped before any sketch is computed or staged."""
    from json_schema_spark.operators.tdigest import digest_by_partition

    _sink_exactly_once(
        stream, table, checkpoint_dir,
        lambda batch_df: digest_by_partition(
            batch_df, value_col, partition_col, k=k))
