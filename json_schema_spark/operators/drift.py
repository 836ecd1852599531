"""Distribution-drift detection across partitions (SURVEY.md §2.4).

Generalizes ``enum``/``type`` distribution expectations (the reference
validator's ``src/validators.lisp:339-341,402-408``) over time: does
partition P's distribution of a column differ from the rest of the
table?

Three statistics, all in pure DataFrame ops (no UDF, no Python loop):

* **chi-square** for categoricals (e.g. ``lang``): contingency counts
  via ONE ``groupBy(partition, category)`` pass, expected counts from
  the pooled marginals by window, statistic = sum((obs-exp)^2/exp).
* **KS** for numerics (e.g. ``char_length(text)``): exact two-sample
  Kolmogorov-Smirnov of every partition vs the rest over the observed
  ``(partition, value)`` cells (:func:`ks_by_partition`);
  :func:`ks_stat` is its two-group case. The windows run over
  aggregated cells, never over rows. For continuous/unbounded columns
  pass ``n_bins`` to bucket first (histogram CDF). The storable,
  mergeable sketch path is KLL, in :mod:`.tdigest`.
* **PSI** for categoricals, partition vs rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bin(value: Column, lo: Column, hi: Column, n_bins: int) -> Column:
    """Fixed-width bucket id in [0, n_bins) (the +1e-12 keeps a
    degenerate hi == lo range from dividing by zero; least() folds the
    hi boundary into the last bucket)."""
    return F.least(
        F.lit(n_bins - 1),
        F.floor((value - lo) / ((hi - lo) / n_bins + 1e-12)),
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


def ks_by_partition(
    df: DataFrame, value: str | Column, partition: str | Column,
    n_bins: int | None = None,
) -> DataFrame:
    """Two-sample KS of EVERY partition against the rest of the table,
    in one query (no per-partition Python loop).

    Returns (partition, n_rows, ks); ks is NULL for a lone partition,
    which has no rest. Pass ``n_bins`` to bucket values first for
    continuous/unbounded domains (histogram CDF, error bounded by
    1/n_bins); leave None for exact KS.

    Shape: ONE groupBy(partition, value) over the table gives the
    observed cells; no partition x value grid is built. With
    ``n_bins`` the cells are binned, between the min and max over the
    cells, and re-aggregated: the input is read once. A running sum
    per partition gives the partition's count ``cum_in`` at each of its
    values; a running sum over the per-value marginal (|distinct
    values| rows, joined back on the value) gives the pooled count
    ``cum_all``. The rest's count is ``cum_all - cum_in`` at v and
    ``cum_all - n_v - (cum_in - cnt)`` at the pooled value just before
    v. Both CDFs step only at pooled values, and between two values of
    the partition its CDF is flat while the rest's rises, so the sup
    over those two points per cell is the sup over every pooled value.
    """
    val = F.col(value) if isinstance(value, str) else value
    part = F.col(partition) if isinstance(partition, str) else partition
    cells = df.where(val.isNotNull() & part.isNotNull()).groupBy(
        part.alias("partition"), val.alias("v")).agg(F.count(F.lit(1)).alias("cnt"))
    if n_bins is not None:
        # the bounds over the cells are those over the rows; one task
        # reads every cell, as the pooled running sum below reads
        # every pooled value
        everything = Window.partitionBy()
        lo, hi = F.min("v").over(everything), F.max("v").over(everything)
        cells = cells.select("partition", _bin(F.col("v"), lo, hi, n_bins).alias("v"), "cnt") \
            .groupBy("partition", "v").agg(F.sum("cnt").alias("cnt"))

    running = Window.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pooled = cells.groupBy("v").agg(F.sum("cnt").alias("n_v")).select(
        "v", "n_v",
        F.sum("n_v").over(running.orderBy("v")).alias("cum_all"),
        F.sum("n_v").over(Window.partitionBy()).alias("n_total"),
    )
    cdf = cells.join(pooled, "v").select(
        "partition", "cnt", "n_v", "cum_all", "n_total",
        F.sum("cnt").over(running.partitionBy("partition").orderBy("v")).alias("cum_in"),
        F.sum("cnt").over(Window.partitionBy("partition")).alias("n_part"),
    )
    cnt, n_v, cum_all, cum_in, n_part = (
        F.col(c) for c in ("cnt", "n_v", "cum_all", "cum_in", "n_part"))
    n_rest = F.nullif(F.col("n_total") - n_part, F.lit(0))
    gap_at = F.abs(cum_in / n_part - (cum_all - cum_in) / n_rest)
    gap_before = F.abs((cum_in - cnt) / n_part
                       - (cum_all - n_v - (cum_in - cnt)) / n_rest)
    return cdf.groupBy("partition").agg(
        F.max(n_part).alias("n_rows"),
        F.round(F.max(F.greatest(gap_at, gap_before)), 6).alias("ks"),
    )


def ks_stat(
    df: DataFrame, value: str | Column, group: str | Column,
    group_a, group_b,
) -> DataFrame:
    """Exact two-sample KS statistic between groups a and b: the
    two-partition case of :func:`ks_by_partition`, where a's rest is b.

    Returns a single row (n_a, n_b, ks); a group with no rows has a
    NULL count, and then ks is NULL.
    """
    val = F.col(value) if isinstance(value, str) else value
    grp = F.col(group) if isinstance(group, str) else group
    two = df.where(grp.isin([group_a, group_b])).select(
        val.alias("v"), (grp == group_a).alias("is_a"))
    return ks_by_partition(two, "v", "is_a").agg(
        F.max(F.when(F.col("partition"), F.col("n_rows"))).alias("n_a"),
        F.max(F.when(~F.col("partition"), F.col("n_rows"))).alias("n_b"),
        F.max("ks").alias("ks"),
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

    One groupBy(partition, category) shuffle, then the full
    partition x category grid from the two aggregate-sized marginals:
    unlike chi-square and KS, every pooled category absent from a
    partition adds its own (eps - p_rest) * ln(eps / p_rest) term.
    """
    part = F.col(partition) if isinstance(partition, str) else partition
    cells = (
        df.where(F.col(category).isNotNull() & part.isNotNull())
        .groupBy(part.alias("partition"), F.col(category).alias("cat"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        # lazy reuse barrier: cells has FOUR consumers (three marginals
        # + the grid join); without it the source groupBy executes once
        # per consumer. partition x category rows, aggregate-sized.
        .localCheckpoint(eager=False)
    )
    parts = cells.groupBy("partition").agg(F.sum("cnt").alias("n_part"))
    cats = cells.groupBy("cat").agg(F.sum("cnt").alias("n_cat"))
    tot = cells.agg(F.sum("cnt").alias("n_total"))
    grid = (
        parts.crossJoin(F.broadcast(cats))
        .join(cells, ["partition", "cat"], "left")
        .crossJoin(F.broadcast(tot))
        .select("partition", "n_part",
                (F.col("n_total") - F.col("n_part")).alias("n_rest"),
                F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"), "n_cat")
    )
    p_in = F.greatest(F.col("cnt") / F.col("n_part"), F.lit(epsilon))
    # n_rest = 0 (single-partition table): there IS no rest — PSI must
    # be NULL, not the epsilon-smoothed ~13+ that greatest() over the
    # null division produced (greatest skips NULLs)
    p_out = F.when(
        F.col("n_rest") > 0,
        F.greatest((F.col("n_cat") - F.col("cnt")) / F.col("n_rest"), F.lit(epsilon)))
    return (
        grid.groupBy("partition")
        .agg(
            F.round(F.sum((p_in - p_out) * F.log(p_in / p_out)), 6).alias("psi"),
            F.max("n_part").alias("n_rows"),
        )
    )
