"""Distribution-drift detection across partitions (SURVEY.md §2.4).

Generalizes ``enum``/``type`` distribution expectations (the reference
validator's ``src/validators.lisp:339-341,402-408``) over time: does
partition P's distribution of a column differ from the rest of the
table?

Each statistic is one Spark aggregate down to the observed
``(partition, value)`` cells, ``groupBy(partition, value).count()``,
which the driver collects (at most :data:`MAX_CELLS`) and finishes in
plain Python; the result comes back as a local DataFrame.

* **chi-square** for categoricals (e.g. ``lang``): expected counts
  from the pooled marginals, statistic = sum((obs-exp)^2/exp).
* **KS** for numerics (e.g. ``char_length(text)``): exact two-sample
  Kolmogorov-Smirnov of every partition vs the rest
  (:func:`ks_by_partition`); :func:`ks_stat` is its two-group case.
  For continuous/unbounded columns pass ``n_bins`` to bucket the
  values in Spark first (histogram CDF, at most partitions x n_bins
  cells). The storable, mergeable sketch path is KLL, in :mod:`.tdigest`.
* **PSI** for categoricals, partition vs rest.
"""

from __future__ import annotations

import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal
from itertools import groupby

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from json_schema_spark.session import local_frame

# the most (partition, value) cells a call collects; above it, it raises ValueError
MAX_CELLS = 1_000_000


def _bin(value: Column, lo: Column, hi: Column, n_bins: int) -> Column:
    """Fixed-width bucket id in [0, n_bins) (the +1e-12 keeps a
    degenerate hi == lo range from dividing by zero; least() folds the
    hi boundary into the last bucket)."""
    return F.least(
        F.lit(n_bins - 1),
        F.floor((value - lo) / ((hi - lo) / n_bins + 1e-12)),
    )


def _cells(df: DataFrame, value: str | Column, partition: str | Column,
           n_bins: int | None = None) -> tuple[list, str]:
    """The ``(partition, value, count)`` cells of the rows where both
    are non-NULL, collected, and the partition column's type. With
    ``n_bins`` the values are bucketed between their min and max and the
    cells re-aggregated. Raises ``ValueError`` above :data:`MAX_CELLS`."""
    val = F.col(value) if isinstance(value, str) else value
    part = F.col(partition) if isinstance(partition, str) else partition
    cells = df.where(val.isNotNull() & part.isNotNull()).groupBy(
        part.alias("partition"), val.alias("v")).agg(F.count(F.lit(1)).alias("cnt"))
    if n_bins is not None:
        everything = Window.partitionBy()
        lo, hi = F.min("v").over(everything), F.max("v").over(everything)
        cells = cells.select("partition", _bin(F.col("v"), lo, hi, n_bins).alias("v"), "cnt") \
            .groupBy("partition", "v").agg(F.sum("cnt").alias("cnt"))
    rows = cells.limit(MAX_CELLS + 1).collect()
    if len(rows) > MAX_CELLS:
        raise ValueError(
            f"drift over more than {MAX_CELLS:,} (partition, value) cells: "
            "pass n_bins to ks_by_partition, or use the tdigest test")
    return ([(_one_nan(p), _one_nan(v), cnt) for p, v, cnt in rows],
            cells.schema["partition"].dataType.simpleString())


def _one_nan(x):
    """Each NaN as the one ``math.nan``: Spark groups NaNs together."""
    return math.nan if isinstance(x, float) and x != x else x


def _marginals(cells: list) -> tuple[Counter, Counter, int]:
    """The cells' counts per partition and per value, and their total."""
    n_part, n_val = Counter(), Counter()
    for p, v, cnt in cells:
        n_part[p] += cnt
        n_val[v] += cnt
    return n_part, n_val, sum(n_part.values())


def _round(x: float, places: int) -> float:
    """Spark's round(x, places) on a double: HALF_UP on its decimal repr
    (+ 0.0 turns a rounded tiny negative's -0.0 into Spark's 0.0)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)) + 0.0


def chi2_by_partition(df: DataFrame, category: str | Column,
                      partition: str | Column) -> DataFrame:
    """Per-partition chi-square statistic of ``category`` distribution
    vs the pooled (all-partitions) distribution.

    Returns (partition, chi2, dof, n_rows); dof counts the pooled
    categories. A pooled category absent from a partition (the strongest
    drift signal) adds (0-exp)^2/exp = exp, and exp = n_cat * n_part /
    n_total sums to n_part over every pooled category, so the absent
    cells add n_part minus the observed cells' exp: no grid is built.
    """
    cells, ptype = _cells(df, category, partition)
    n_part, n_cat, n_total = _marginals(cells)
    terms = {p: [n] for p, n in n_part.items()}
    for p, c, obs in cells:
        exp = n_cat[c] * n_part[p] / n_total
        terms[p] += [(obs - exp) ** 2 / exp, -exp]
    return local_frame(
        df.sparkSession,
        [(p, _round(math.fsum(terms[p]), 4), len(n_cat) - 1, n) for p, n in n_part.items()],
        f"partition {ptype}, chi2 double, dof long, n_rows long")


def _by_value(cell: tuple):
    """A cell's place in Spark's order of values: NaN sorts last."""
    return cell[1] is math.nan, cell[1]


def _ks(cells: list) -> list[tuple]:
    """``(partition, n_rows, ks)`` of every partition against the rest
    of the cells (ks None for a lone partition). One sweep over the
    cells in value order keeps the pooled count ``cum_all`` and each
    partition's count ``cum_in`` up to the value. The rest's count is
    ``cum_all - cum_in`` at v and ``cum_all - n_v - (cum_in - cnt)`` at
    the pooled value just before v. Both CDFs step only at pooled
    values, and between two values of the partition its CDF is flat
    while the rest's rises, so the sup over those two points per cell
    is the sup over every pooled value."""
    n_part, _, n_total = _marginals(cells)
    cum_in, sup = Counter(), dict.fromkeys(n_part, 0.0)
    cum_all = 0
    for _, run in groupby(sorted(cells, key=_by_value), key=_by_value):
        run = list(run)
        n_v = sum(cnt for _, _, cnt in run)
        cum_all += n_v
        for p, _, cnt in run:
            cum_in[p] += cnt
            n_rest = n_total - n_part[p]
            if n_rest:
                before = cum_in[p] - cnt
                sup[p] = max(
                    sup[p],
                    abs(cum_in[p] / n_part[p] - (cum_all - cum_in[p]) / n_rest),
                    abs(before / n_part[p] - (cum_all - n_v - before) / n_rest))
    return [(p, n, _round(sup[p], 6) if n < n_total else None)
            for p, n in n_part.items()]


def ks_by_partition(
    df: DataFrame, value: str | Column, partition: str | Column,
    n_bins: int | None = None,
) -> DataFrame:
    """Two-sample KS of EVERY partition against the rest of the table,
    from one aggregate down to the ``(partition, value)`` cells, which
    the driver sweeps in value order.

    Returns (partition, n_rows, ks); ks is NULL for a lone partition,
    which has no rest. Pass ``n_bins`` to bucket values first for
    continuous/unbounded domains (histogram CDF, error bounded by
    1/n_bins, at most partitions x n_bins cells); leave None for exact KS.
    """
    cells, ptype = _cells(df, value, partition, n_bins)
    return local_frame(df.sparkSession, _ks(cells),
                       f"partition {ptype}, n_rows long, ks double")


def ks_stat(
    df: DataFrame, value: str | Column, group: str | Column,
    group_a, group_b,
) -> DataFrame:
    """Exact two-sample KS statistic between groups a and b: the
    two-partition case of :func:`ks_by_partition`, where a's rest is b.

    Returns a single row (n_a, n_b, ks); a group with no rows has a
    NULL count, and then ks is NULL.
    """
    grp = F.col(group) if isinstance(group, str) else group
    cells, _ = _cells(df.where(grp.isin([group_a, group_b])), value, grp == group_a)
    got = {is_a: (n, ks) for is_a, n, ks in _ks(cells)}
    (n_a, ks), (n_b, _) = got.get(True, (None, None)), got.get(False, (None, None))
    return local_frame(df.sparkSession, [(n_a, n_b, ks)],
                       "n_a long, n_b long, ks double")


def psi_by_partition(
    df: DataFrame, category: str | Column, partition: str | Column,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index of `category` per partition vs the
    REST of the table: PSI = sum over categories of
    (p_part - p_rest) * ln(p_part / p_rest), with epsilon-smoothed
    proportions so absent categories contribute a large-but-finite
    term (the production-standard drift score; >0.2 is the usual
    "significant shift" rule of thumb).

    Returns (partition, psi, n_rows); psi is NULL for a lone partition,
    which has no rest. The sum runs over every pooled category: unlike
    chi-square, each one absent from a partition adds its own
    (eps - p_rest) * ln(eps / p_rest) term.
    """
    cells, ptype = _cells(df, category, partition)
    n_part, n_cat, n_total = _marginals(cells)
    cnt = {(p, c): k for p, c, k in cells}

    def psi(p, n: int) -> float:
        terms = []
        for c, m in n_cat.items():
            k = cnt.get((p, c), 0)
            p_in, p_out = max(k / n, epsilon), max((m - k) / (n_total - n), epsilon)
            terms.append((p_in - p_out) * math.log(p_in / p_out))
        return _round(math.fsum(terms), 6)

    return local_frame(
        df.sparkSession,
        [(p, psi(p, n) if n < n_total else None, n) for p, n in n_part.items()],
        f"partition {ptype}, psi double, n_rows long")
