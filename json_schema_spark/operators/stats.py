"""Single-pass column statistics (SURVEY.md §2.4 "stats pass").

Generalizes the reference's per-document keyword checks to table-level
metrics: ``required`` -> null rate (src/validators.lisp:594-603),
``minimum``/``maximum`` -> min/max (:449-454, :411-416),
``minLength``/``maxLength`` -> length histogram (:477-482, :432-437).

Scale posture: ALL stats for ALL columns are fused into ONE
``groupBy(...).agg(...)`` so Catalyst plans exactly one shuffle with
map-side partial aggregation (north_star: "single groupBy-rollup
pass"). The length histogram is a fixed-width bucket count built with
``floor(char_length/width)`` + pivot-free map aggregation — no second
shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    by: list[str] | None = None,
    rollup: bool = False,
    hist_width: int = 100,
    hist_col: str | None = None,
) -> DataFrame:
    """One-shuffle stats pass.

    Per group (or globally): row count; per column: null count, and for
    numeric columns min/max/avg, for string columns min/max/avg char
    length plus a bucketed length histogram for ``hist_col``.

    Output is wide (one row per group) — callers melt as needed; wide
    keeps it a single partial-aggregable pass.
    """
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    columns = columns or [f.name for f in df.schema.fields]
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]

    for c in columns:
        dt = dtypes[c]
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"{c}_nulls"))
        if isinstance(dt, _NUMERIC):
            aggs += [
                F.min(col).alias(f"{c}_min"),
                F.max(col).alias(f"{c}_max"),
                F.avg(col).alias(f"{c}_avg"),
            ]
        elif isinstance(dt, T.StringType):
            ln = F.char_length(col)
            aggs += [
                F.min(ln).alias(f"{c}_len_min"),
                F.max(ln).alias(f"{c}_len_max"),
                F.avg(ln).alias(f"{c}_len_avg"),
            ]
        elif isinstance(dt, T.BinaryType):
            ln = F.length(col)
            aggs += [F.min(ln).alias(f"{c}_len_min"), F.max(ln).alias(f"{c}_len_max")]

    if hist_col is not None:
        bucket = F.floor(F.char_length(F.col(hist_col)) / hist_width)
        # histogram as sorted map bucket -> count, still one pass:
        # map_from_entries(sort(collect of (bucket,count))) needs a
        # groupBy per bucket — instead aggregate counts per fixed bucket
        # id via conditional sums up to a cap (bounded, codegen-able).
        n_buckets = 32
        for b in range(n_buckets):
            aggs.append(
                F.sum((bucket == b).cast("long")).alias(f"{hist_col}_len_hist_{b}")
            )
        aggs.append(F.sum((bucket >= n_buckets).cast("long"))
                    .alias(f"{hist_col}_len_hist_overflow"))

    if by:
        grouped = df.rollup(*by) if rollup else df.groupBy(*by)
        return grouped.agg(*aggs)
    return df.agg(*aggs)


def stats_long(df: DataFrame, columns: list[str], by: str) -> DataFrame:
    """Long-format per-group per-column stats (easier to assert /
    oracle-check): (group, column, n_rows, n_nulls, null_rate)."""
    wide = column_stats(df, columns=columns, by=[by])
    entries = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}_nulls").alias("n_nulls"),
        )
        for c in columns
    ]
    return wide.select(
        F.col(by), F.col("n_rows"), F.explode(F.array(*entries)).alias("s")
    ).select(
        F.col(by),
        F.col("s.column").alias("column"),
        F.col("n_rows"),
        F.col("s.n_nulls").alias("n_nulls"),
        F.round(F.col("s.n_nulls") / F.col("n_rows"), 6).alias("null_rate"),
    )


def heavy_hitters(
    df: DataFrame, value: str | Column, by: str | Column | None = None,
    k: int = 5,
) -> DataFrame:
    """Top-k most frequent values (optionally per group): the standard
    profile for spotting degenerate columns (one URL dominating a
    crawl, a default lang swamping a partition).

    Shape: ONE groupBy (map-side combinable) over (group, value), then
    a window rank over the aggregate-sized counts — the rank never
    touches table-scale rows.  Ties break by value for determinism.
    """
    from pyspark.sql import Window

    val = F.col(value) if isinstance(value, str) else value
    cols = [val.alias("value")]
    keys = []
    if by is not None:
        grp = F.col(by) if isinstance(by, str) else by
        cols.insert(0, grp.alias("grp"))
        keys = ["grp"]
    counts = (
        df.where(val.isNotNull())
        .select(*cols)
        .groupBy(*keys, "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("n"), F.asc("value"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cardinality_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column cardinality profile in ONE pass: exact distincts,
    HLL approx distincts (the 10^12-row path — mergeable, fixed
    memory), null count, row count.

    The pass counts the rows of every value of every column, one
    grouping set per column, and one global aggregate over those cells
    gives each column's figures: its non-NULL cells are its exact
    distincts, ``approx_count_distinct`` over them is the same HLL
    estimate as over the rows (registers ignore multiplicity), its
    NULL cell holds its null count, and any one set's counts sum to the
    rows. A ``countDistinct`` beside ``approx_count_distinct`` would
    instead carry an HLL buffer through every group of Spark's distinct
    rewrite, outside generated code.

    At true scale use only the `approx` column (the cells of a
    high-cardinality column are as many as its values); the exact
    figure is here for the oracle gate and for small dims.
    """
    cols = list(dict.fromkeys(columns))
    full = (1 << len(cols)) - 1
    # grouping_id() of c's set: every bit set but c's (first column = top bit)
    gid = {c: full ^ (1 << (len(cols) - 1 - i)) for i, c in enumerate(cols)}
    cells = df.groupingSets([[c] for c in cols], *cols).agg(
        F.grouping_id().alias("__gid"), F.count(F.lit(1)).alias("__n"))
    aggs = []
    for c in cols:
        mine = F.col("__gid") == F.lit(gid[c])
        value = F.when(mine, F.col(c))
        aggs += [
            F.count(value).alias(f"{c}__exact"),
            F.approx_count_distinct(value).alias(f"{c}__approx"),
            # NULL over no cells, as a sum over no rows
            F.sum(F.when(mine, F.when(F.col(c).isNull(), F.col("__n"))
                         .otherwise(F.lit(0)))).alias(f"{c}__nulls"),
        ]
    rows = F.sum(F.when(F.col("__gid") == F.lit(gid[cols[0]]), F.col("__n")))
    row = cells.agg(*aggs, F.coalesce(rows, F.lit(0)).alias("__rows"))
    pairs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__exact").alias("n_distinct"),
            F.col(f"{c}__approx").alias("n_distinct_approx"),
            F.col(f"{c}__nulls").alias("n_nulls"),
        )
        for c in columns
    ]
    return row.select(
        F.col("__rows").alias("n_rows"), F.explode(F.array(*pairs)).alias("s")
    ).select(
        F.col("s.col_name").alias("col_name"),
        F.col("s.n_distinct").alias("n_distinct"),
        F.col("s.n_distinct_approx").alias("n_distinct_approx"),
        F.col("s.n_nulls").alias("n_nulls"),
        F.col("n_rows").alias("n_rows"),
    )


def skew_report(df: DataFrame, keys: list[str],
                target_rows_per_task: int = 4_000_000) -> DataFrame:
    """Join/shuffle-key skew diagnosis: for each candidate key column,
    the numbers that decide the physical strategy at scale — total and
    distinct counts, the hottest key's share, the max/avg ratio (skew
    factor), and the salt-bucket count that would cap the hottest
    key's per-task rows at ``target_rows_per_task`` (the input to the
    engine's salted-aggregation path, operators/unique.py, and to AQE
    skew-join sizing).

    One groupBy per key over the table, everything downstream
    aggregate-sized. Exact (DuckDB-oracleable) by construction.
    """
    out = None
    for key in keys:
        counts = (
            df.where(F.col(key).isNotNull())
            .groupBy(F.col(key).cast("string").alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rep = counts.agg(
            F.lit(key).alias("key"),
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("n").alias("max_key_rows"),
            F.round(F.max("n") / F.avg("n"), 4).alias("skew_factor"),
            F.round(F.max("n") / F.sum("n"), 6).alias("top_share"),
            F.ceil(F.max("n") / F.lit(target_rows_per_task))
             .cast("long").alias("salt_buckets"),
        )
        out = rep if out is None else out.unionByName(rep)
    return out
