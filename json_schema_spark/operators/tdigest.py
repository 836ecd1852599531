"""Storable, mergeable quantile sketches per partition, on Spark's
native KLL sketch (DataSketches ``KllDoublesSketch``: Karnin, Lang &
Liberty, "Optimal Quantile Approximation in Streams").

`ks_from_quantile_sketch` (drift.py) already estimates KS from Spark's
built-in percentile_approx sketch, but that sketch lives only inside
one aggregation — it cannot be persisted. A KLL sketch is a binary
value (``kll_sketch_agg_double``), so per-partition sketches can be
written to the results :class:`~json_schema_spark.sources.icetable.IceTable`
as rows of :data:`DIGEST_SCHEMA` and **merged across runs**
(``kll_merge_agg_double``): when day D+1 arrives, drift of D+1 vs all
history costs one scan of D+1 plus a metadata-sized merge of stored
sketches — no rescan of history.

Plan shape: one ``groupBy(partition)`` aggregate. The sketch is a
partial aggregate, so each task folds its rows into one sketch per
partition value before the shuffle, which carries sketches, never
rows. Everything after that (merging, quantiles, ranks) runs on the
P collected sketches in driver-local projections, which start no job.

Accuracy: a sketch of size ``k`` holds every value while it has seen
at most ``k`` of them (the exact regime; Spark accepts k <= 65535).
Beyond that its compaction is randomized: ranks carry an error of
about 1.3% at the default k=200 and results are no longer identical
run to run. In the exact regime they are exact and deterministic.
Size k to the data there rather than to the maximum: each rank lookup
re-reads the sketch at its full capacity k.

The module keeps its historical name: the spec's ``tdigest`` drift
test and its ``drift_tdigest(...)`` result rows run through it.
Generalizes the reference's static distribution expectations the
same way drift.py does, with the sketch as the transportable unit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_schema_spark.session import local_frame

DIGEST_SCHEMA = "partition string, sketch binary, n long"

DEFAULT_K = 200
# outside the exact regime, CDFs are compared at this many pooled quantiles
GRID = 1024


def digest_by_partition(
    df: DataFrame, value: str | Column, by: str | Column, k: int = DEFAULT_K,
) -> DataFrame:
    """One KLL sketch row per partition value (schema DIGEST_SCHEMA)."""
    val = (F.col(value) if isinstance(value, str) else value).cast("double")
    part = F.col(by) if isinstance(by, str) else by
    return (
        df.where(val.isNotNull() & ~F.isnan(val) & part.isNotNull())
        .groupBy(part.cast("string").alias("partition"))
        .agg(F.kll_sketch_agg_double(val, k).alias("sketch"),
             F.count(F.lit(1)).alias("n"))
    )


def cdf_on_grid(
    digests: DataFrame, k: int = DEFAULT_K,
) -> tuple[list[float], list[tuple[str, int, list[float]]]]:
    """Every partition's CDF at one value grid.

    ``digests`` has DIGEST_SCHEMA; a partition may have several rows
    (one per stored run or micro-batch), which merge into a sketch of
    size ``k`` first. Returns ``(grid, parts)``: the ascending grid
    values and ``(partition, n, cdf)`` per partition, sorted by
    partition. The grid is ``m`` evenly spaced quantiles of the pooled
    sketch, ``m = min(N, max(k, GRID))`` for N rows in all; in the
    exact regime (N <= k) that is every value, so the CDFs are exact
    at every point where one can step.

    Spark takes only constant values and ranks in the quantile and rank
    functions, so the grid goes back into the second projection as a
    literal array.
    """
    rows = sorted(
        digests.groupBy("partition")
        .agg(F.kll_merge_agg_double("sketch", k).alias("sketch"),
             F.sum("n").alias("n"))
        .collect())
    if not rows:
        return [], []
    spark = digests.sparkSession
    m = min(sum(r["n"] for r in rows), max(k, GRID))
    pooled = F.aggregate(F.slice("s", 2, len(rows) - 1), F.col("s")[0],
                         lambda acc, x: F.kll_sketch_merge_double(acc, x))
    [(qs,)] = local_frame(
        spark, [([bytes(r["sketch"]) for r in rows],)], "s array<binary>",
    ).select(F.kll_sketch_get_quantile_double(
        pooled, _doubles([(i + 0.5) / m for i in range(m)]))).collect()
    grid = sorted(set(qs))
    ranked = local_frame(
        spark, [(r["partition"], bytes(r["sketch"]), r["n"]) for r in rows],
        DIGEST_SCHEMA,
    ).select("partition", "n",
             F.kll_sketch_get_rank_double("sketch", _doubles(grid))).collect()
    return grid, [tuple(r) for r in ranked]


def _doubles(xs: list[float]) -> Column:
    """A constant array<double> from one string literal. ``F.lit(list)``
    makes one literal expression per element, and a plan with thousands
    of them takes seconds to analyze; the split and cast fold once."""
    return F.split(F.lit(",".join(map(repr, xs))), ",").cast("array<double>")


def ks_by_partition_tdigest(
    digests: DataFrame, k: int = DEFAULT_K,
) -> list[tuple[str, int, float]]:
    """Each partition's KS vs the rest of the table, purely from sketches.

    Input is the output of :func:`digest_by_partition` (or stored rows
    of it). Returns [(partition, n_rows, ks)] sorted by partition; ks is
    NaN for a lone partition, which has no rest. The rest's CDF comes
    from the rank identity F_rest = (N·F_all − n_p·F_p)/(N − n_p) on
    the grid of :func:`cdf_on_grid`, with N·F_all the sum of n_q·F_q
    over all partitions, so no rest sketch is ever built.
    """
    grid, parts = cdf_on_grid(digests, k)
    n_all = sum(n for _, n, _ in parts)
    n_cdf_all = [sum(n * cdf[i] for _, n, cdf in parts) for i in range(len(grid))]
    out = []
    for p, n, cdf in parts:
        rest = n_all - n
        ks = (max(abs(f - (nf - n * f) / rest) for f, nf in zip(cdf, n_cdf_all))
              if rest else math.nan)
        out.append((p, n, ks))
    return out
