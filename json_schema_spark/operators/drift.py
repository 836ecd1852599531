"""Distribution-drift detection across partitions (SURVEY.md §2.4).

Generalizes ``enum``/``type`` distribution expectations
(/root/reference/src/validators.lisp:339-341,402-408) over time: does
partition P's distribution of a column differ from the rest of the
table?

Two tests, both expressed in pure DataFrame ops (no UDF, no driver
loop):

* **chi-square** for categoricals (e.g. ``lang``): contingency counts
  via ONE ``groupBy(partition, category)`` pass, expected counts from
  the pooled marginals via two small joins (both sides are
  aggregate-sized — broadcast), statistic = sum((obs-exp)^2/exp).
* **KS** for numerics (e.g. ``char_length(text)``): exact two-sample
  Kolmogorov-Smirnov computed on the *distinct-value CDF*:
  ``groupBy(value)`` counts per group, window cumsum in value order,
  max |F_a - F_b|. For bounded discrete domains (lengths, scores) this
  is exact AND scalable: the window runs over distinct values, not
  rows. For unbounded continuous columns use ``ks_stat_binned`` which
  first buckets values (histogram CDF — the t-digest/KLL-style sketch
  path; cf. PAPERS.md quantile-sketch surveys) so the final window
  stays tiny.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bin(value: Column, lo: Column, hi: Column, n_bins: int) -> Column:
    """Fixed-width bucket id in [0, n_bins): the ONE binning rule every
    histogram-CDF path shares (the +1e-12 keeps a degenerate hi == lo
    range from dividing by zero; least() folds the hi boundary into the
    last bucket)."""
    return F.least(
        F.lit(n_bins - 1),
        F.floor((value - lo) / ((hi - lo) / n_bins + 1e-12)),
    )


def _partition_vs_rest_grid(
    df: DataFrame, value: Column, partition: Column,
) -> DataFrame:
    """Shared scaffolding for every partition-vs-rest statistic
    (KS, PSI): ONE groupBy(partition, value) shuffle over the table,
    then the full partition x value grid materialized from the two
    aggregate-sized marginals, zero-obs cells included.

    Columns: partition, v, n_part, n_total, n_rest, cnt, cnt_rest.
    n_rest is 0 for a single-partition table — consumers must guard
    their divisions (nullif), which is why it is precomputed here.
    """
    cells = (
        df.where(value.isNotNull() & partition.isNotNull())
        .groupBy(partition.alias("partition"), value.alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        # lazy reuse barrier (r6, guide §7.2): cells has FOUR consumers
        # (three marginals + the grid join) — without it the corpus
        # groupBy scan executes once per consumer. partition x value
        # rows, aggregate-sized by construction.
        .localCheckpoint(eager=False)
    )
    parts = cells.groupBy("partition").agg(F.sum("cnt").alias("n_part"))
    vals = cells.groupBy("v").agg(F.sum("cnt").alias("n_v"))
    tot = cells.agg(F.sum("cnt").alias("n_total"))
    return (
        parts.crossJoin(F.broadcast(vals))
        .join(cells, ["partition", "v"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "partition", "v", "n_part", "n_total",
            (F.col("n_total") - F.col("n_part")).alias("n_rest"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            (F.col("n_v") - F.coalesce(F.col("cnt"), F.lit(0))).alias("cnt_rest"),
        )
    )


def chi2_by_partition(df: DataFrame, category: str, partition: str | Column) -> DataFrame:
    """Per-partition chi-square statistic of ``category`` distribution
    vs the pooled (all-partitions) distribution.

    Returns (partition, chi2, dof, n_rows). One wide shuffle
    (groupBy(partition, category)); everything downstream is
    aggregate-sized and broadcast.
    """
    part = F.col(partition) if isinstance(partition, str) else partition
    cells = (
        df.where(F.col(category).isNotNull() & part.isNotNull())
        .groupBy(part.alias("partition"), F.col(category).alias("cat"))
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    # marginals via WINDOWS over the aggregated cells, not re-joins:
    # deriving them with separate groupBys re-scanned the SOURCE four
    # times (Catalyst does not share the subtree across actions of one
    # plan). The windows shuffle only |partitions| x |categories| rows.
    w_part = Window.partitionBy("partition")
    w_cat = Window.partitionBy("cat")
    w_all = Window.partitionBy()
    with_exp = cells.select(
        "partition", "obs",
        (F.sum("obs").over(w_part)).alias("n_part"),
        (F.sum("obs").over(w_cat) * F.sum("obs").over(w_part)
         / F.sum("obs").over(w_all)).alias("exp"),
        F.size(F.collect_set("cat").over(w_all)).alias("n_cats_pooled"),
    )
    # Zero-obs cells (a pooled category absent from a partition — the
    # strongest drift signal) must still contribute: for obs=0 the term
    # (0-exp)^2/exp = exp, and sum(exp) over ALL pooled categories in a
    # partition is exactly n_part.  So instead of materializing the full
    # partition x category grid we add the closed-form remainder
    # (n_part - sum(exp over observed cells)), which equals the sum of
    # the missing cells' terms.  dof uses the pooled category count.
    return (
        with_exp.groupBy("partition")
        .agg(
            F.round(
                F.sum((F.col("obs") - F.col("exp")) ** 2 / F.col("exp"))
                + (F.max("n_part") - F.sum("exp")),
                4,
            ).alias("chi2"),
            (F.max("n_cats_pooled") - 1).cast("long").alias("dof"),
            F.max("n_part").alias("n_rows"),
        )
    )


def ks_stat(
    df: DataFrame, value: str | Column, group: str | Column,
    group_a, group_b,
) -> DataFrame:
    """Exact two-sample KS statistic between groups a and b.

    Returns a single row (n_a, n_b, ks). The cumulative window is
    ordered over DISTINCT values (post-aggregation), so its single-task
    sort touches |domain| rows, not |table| rows — fine for discrete
    domains; use :func:`ks_stat_binned` for continuous ones.
    """
    val = F.col(value) if isinstance(value, str) else value
    grp = F.col(group) if isinstance(group, str) else group
    tagged = (
        df.where(grp.isin([group_a, group_b]) & val.isNotNull())
        .select(val.alias("v"), (grp == group_a).cast("int").alias("is_a"))
    )
    per_value = tagged.groupBy("v").agg(
        F.sum("is_a").alias("cnt_a"),
        F.sum(1 - F.col("is_a")).alias("cnt_b"),
    # lazy reuse barrier (r6, guide §7.2): the CDF feeds both the
    # totals aggregate and the final max — without it the corpus scan
    # + groupBy executes twice. |domain| rows, aggregate-sized.
    ).localCheckpoint(eager=False)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = per_value.select(
        (F.sum("cnt_a").over(w)).alias("cum_a"),
        (F.sum("cnt_b").over(w)).alias("cum_b"),
    )
    totals = cdf.agg(F.max("cum_a").alias("na"), F.max("cum_b").alias("nb"))
    return cdf.crossJoin(F.broadcast(totals)).agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.round(
            F.max(F.abs(F.col("cum_a") / F.col("na") - F.col("cum_b") / F.col("nb"))), 6
        ).alias("ks"),
    )


def ks_by_partition(
    df: DataFrame, value: str | Column, partition: str | Column,
    n_bins: int | None = None,
) -> DataFrame:
    """Two-sample KS of EVERY partition against the rest of the table,
    in one query (no per-partition driver loop).

    Returns (partition, n_rows, ks).  Shape: one wide shuffle
    (groupBy(partition, value-or-bin)); the partition x value grid that
    materializes missing cells is built from aggregate-sized marginals
    (|partitions| x |domain or n_bins| rows), so the cumulative windows
    never touch table-sized data.  Pass ``n_bins`` to bucket first for
    continuous/unbounded domains (histogram-CDF sketch path, error
    bounded by 1/n_bins); leave None for exact KS on discrete domains.
    """
    val = F.col(value) if isinstance(value, str) else value
    part = F.col(partition) if isinstance(partition, str) else partition
    base = df.where(val.isNotNull() & part.isNotNull()).select(
        part.alias("partition"), val.alias("raw_v"))
    if n_bins is not None:
        bounds = base.agg(F.min("raw_v").alias("lo"), F.max("raw_v").alias("hi"))
        base = base.crossJoin(F.broadcast(bounds)).select(
            "partition",
            _bin(F.col("raw_v"), F.col("lo"), F.col("hi"), n_bins).alias("v"),
        )
    else:
        base = base.select("partition", F.col("raw_v").alias("v"))

    grid = _partition_vs_rest_grid(base, F.col("v"), F.col("partition"))
    w = Window.partitionBy("partition").orderBy("v") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = grid.select(
        "partition", "n_part", "n_rest",
        F.sum("cnt").over(w).alias("cum_in"),
        F.sum("cnt_rest").over(w).alias("cum_rest"),
    )
    return (
        cdf.groupBy("partition")
        .agg(
            F.max("n_part").alias("n_rows"),
            F.round(
                F.max(F.abs(
                    F.col("cum_in") / F.col("n_part")
                    - F.col("cum_rest") / F.nullif(F.col("n_rest"), F.lit(0))
                )), 6,
            ).alias("ks"),
        )
    )


def ks_stat_binned(
    df: DataFrame, value: str | Column, group: str | Column,
    group_a, group_b, n_bins: int = 256,
) -> DataFrame:
    """Histogram-CDF KS for continuous/unbounded columns: bucket first
    (sketch path — bounded error 1/n_bins on the CDF), then the same
    tiny cumulative window. Scales to any row count: one groupBy over
    at most n_bins x 2 cells."""
    val = F.col(value) if isinstance(value, str) else value
    grp = F.col(group) if isinstance(group, str) else group
    base = df.where(grp.isin([group_a, group_b]) & val.isNotNull())
    bounds = base.agg(F.min(val).alias("lo"), F.max(val).alias("hi"))
    binned = base.crossJoin(F.broadcast(bounds)).select(
        _bin(val, F.col("lo"), F.col("hi"), n_bins).alias("v"),
        (grp == group_a).cast("int").alias("is_a"),
    )
    per_bin = binned.groupBy("v").agg(
        F.sum("is_a").alias("cnt_a"), F.sum(1 - F.col("is_a")).alias("cnt_b")
    # lazy reuse barrier (r6, guide §7.2): the CDF below is consumed
    # twice (crossJoin with its own totals) — without it the bounds +
    # bin + groupBy chain over the corpus executes twice. n_bins rows.
    ).localCheckpoint(eager=False)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = per_bin.select(
        F.sum("cnt_a").over(w).alias("cum_a"), F.sum("cnt_b").over(w).alias("cum_b")
    )
    return cdf.crossJoin(
        cdf.agg(F.max("cum_a").alias("na"), F.max("cum_b").alias("nb"))
    ).agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.round(F.max(F.abs(F.col("cum_a") / F.col("na") - F.col("cum_b") / F.col("nb"))), 6).alias("ks"),
    )


def psi_by_partition(
    df: DataFrame, category: str, partition: str | Column,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index of `category` per partition vs the
    REST of the table: PSI = sum over categories of
    (p_part - p_rest) * ln(p_part / p_rest), with epsilon-smoothed
    proportions so absent categories contribute a large-but-finite
    term (the production-standard drift score; >0.2 is the usual
    "significant shift" rule of thumb).

    Same shape as chi2_by_partition: ONE groupBy(partition, category)
    shuffle, marginals by window over the aggregate-sized cells, and
    the zero-obs remainder in closed form — for a zero cell
    p_part = eps, so its term is (eps - p_rest)*ln(eps/p_rest);
    summing those directly needs the grid, but rest-side proportions
    are derivable per observed cell, so we materialize only the
    missing-cell terms via the pooled-minus-observed trick on BOTH
    sides of the product.  For clarity (and because the grid is
    aggregate-sized anyway) this implementation builds the full
    partition x category grid from the two marginals.
    """
    part = F.col(partition) if isinstance(partition, str) else partition
    grid = _partition_vs_rest_grid(df, F.col(category), part)
    p_in = F.greatest(F.col("cnt") / F.col("n_part"), F.lit(epsilon))
    # n_rest = 0 (single-partition table): there IS no rest — PSI must
    # be NULL, not the epsilon-smoothed ~13+ that greatest() over the
    # null division produced (greatest skips NULLs)
    p_out = F.when(
        F.col("n_rest") > 0,
        F.greatest(F.col("cnt_rest") / F.col("n_rest"), F.lit(epsilon)))
    return (
        grid.groupBy("partition")
        .agg(
            F.round(F.sum((p_in - p_out) * F.log(p_in / p_out)), 6).alias("psi"),
            F.max("n_part").alias("n_rows"),
        )
    )


def ks_from_quantile_sketch(
    df: DataFrame, value: str | Column, partition: str | Column,
    n_quantiles: int = 128, accuracy: int = 10000,
) -> DataFrame:
    """Per-partition KS estimated from MERGEABLE quantile sketches
    (north-star wording: "KS over t-digest sketches compared across
    partitions") — Spark's built-in `percentile_approx` aggregate is a
    Greenwald-Khanna-family sketch: partial sketches merge map-side, so
    the shuffle carries one sketch per partition, NOT the rows.

    Each partition's sketch yields an n_quantiles-point inverse CDF;
    the rest-of-table CDF is evaluated AT those points from its own
    sketch grid; KS ≈ max gap between the two step functions.  Error is
    bounded by sketch accuracy + 1/n_quantiles — the trade for never
    materializing a per-value grid (use :func:`ks_by_partition` when
    the domain is small enough for exactness).
    """
    val = F.col(value) if isinstance(value, str) else value
    part = F.col(partition) if isinstance(partition, str) else partition
    qs = [i / (n_quantiles - 1) for i in range(n_quantiles)]
    base = df.where(val.isNotNull() & part.isNotNull()).select(
        part.alias("partition"), val.alias("v"))
    sk_part = base.groupBy("partition").agg(
        F.percentile_approx("v", qs, accuracy).alias("grid"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    sk_all = base.agg(
        F.percentile_approx("v", qs, accuracy).alias("grid_all"),
        F.count(F.lit(1)).alias("n_all"),
    )
    # rest-CDF at x = (F_all(x)*n_all - F_part(x)*n_part) / n_rest.
    # Evaluate both step-CDFs at the UNION of the two grids: for a
    # sorted quantile grid g with levels q, F(x) ~= q[j] where j = last
    # index with g[j] <= x — expressible per element with filter+size.
    joined = sk_part.crossJoin(F.broadcast(sk_all))

    def cdf_at(grid_col: str, x: Column) -> Column:
        # fraction of the grid at or below x = empirical CDF estimate
        return (
            F.size(F.filter(F.col(grid_col), lambda g: g <= x))
            / F.lit(float(n_quantiles))
        )

    both = joined.select(
        "partition", "n_rows",
        F.array_distinct(F.concat(F.col("grid"), F.col("grid_all"))).alias("xs"),
        "grid", "grid_all", "n_all",
    )
    per_x = both.select(
        "partition", "n_rows", "grid", "grid_all", "n_all",
        F.explode("xs").alias("x"),
    ).select(
        "partition", "n_rows",
        cdf_at("grid", F.col("x")).alias("f_part"),
        ((cdf_at("grid_all", F.col("x")) * F.col("n_all")
          - cdf_at("grid", F.col("x")) * F.col("n_rows"))
         / F.nullif(F.col("n_all") - F.col("n_rows"), F.lit(0))).alias("f_rest"),
    )
    return per_x.groupBy("partition").agg(
        F.max("n_rows").alias("n_rows"),
        F.round(F.max(F.abs(F.col("f_part") - F.col("f_rest"))), 6).alias("ks_est"),
    )
