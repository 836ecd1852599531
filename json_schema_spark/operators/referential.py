"""Referential checks via anti-joins (SURVEY.md §2.4).

Generalizes ``$ref`` resolution failure (a lookup miss returns
``values nil nil`` — /root/reference/src/reference.lisp:408-465) to a
set-membership check against a dimension table: rows whose key has no
match in the dimension are violation rows.

Scale posture: ``left_anti`` join; the dimension side is explicitly
``broadcast()`` when small (allow-lists, ISO code tables) so the fact
table never shuffles. For large dimensions (50k+ domains) we leave the
strategy to Catalyst/AQE (sort-merge with skew splitting) — pass
``broadcast_dim=False``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_spark.operators.unique import key_verdicts


def referential_violations(
    df: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Rows of ``df`` whose ``key`` is non-null but absent from
    ``dim.dim_key`` (NULL keys are `required`'s business, not a
    referential miss)."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return (
        df.where(F.col(key).isNotNull())
        .join(d, on=df[key] == d[dim_key], how="left_anti")
    )


def referential_verdict(
    df: DataFrame, dim: DataFrame, key: str, dim_key: str, **kw
) -> DataFrame:
    miss = referential_violations(df, dim, key, dim_key, **kw)
    return miss.agg(
        F.lit(f"ref({key}->{dim_key})").alias("check"),
        (F.count(F.lit(1)) == 0).alias("pass"),
        F.count(F.lit(1)).alias("n_violations"),
    )


def fd_violations(
    df: DataFrame, determinant: list[str] | str, dependent: str,
) -> DataFrame:
    """Functional-dependency check A -> B (database-theory FD, applied
    as a dataset constraint): determinant keys that map to MORE than
    one distinct dependent value — e.g. url -> registrable domain,
    doc fingerprint -> lang, host -> robots policy.  The classic
    consistency constraint between uniqueness (A -> whole row) and
    free-form columns, missing from plain uniqueness/referential
    checks.

    Returns one row per violating key: (determinant cols...,
    n_dep_values, n_rows), sorted nowhere (callers aggregate or
    collect verdicts).  NULL determinants are excluded (NULL keys are
    `required`'s business); NULL dependents count as a distinct value
    — a key mapping to both 'x' and NULL IS inconsistent, and
    count_distinct ignores NULLs, so presence is tracked explicitly.

    Scale shape: ONE partial-aggregable groupBy on the determinant
    (count_distinct is the standard two-stage partial aggregate); no
    join, no window, nothing corpus-wide afterward.
    """
    dets = [determinant] if isinstance(determinant, str) else list(determinant)
    nn = df
    for c in dets:
        nn = nn.where(F.col(c).isNotNull())
    return (
        nn.groupBy(*dets)
        .agg(
            (F.count_distinct(F.col(dependent))
             + F.max(F.col(dependent).isNull().cast("int")))
            .alias("n_dep_values"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .where(F.col("n_dep_values") > 1)
    )


def fd_verdict(
    df: DataFrame, determinant: list[str] | str, dependent: str,
) -> DataFrame:
    """One verdict row for the FD check: (check, pass, n_violations,
    violating_key_frac) with n_violations = violating keys and the
    frac over all (non-null-determinant) keys; a projection of
    :func:`~json_schema_spark.operators.unique.key_verdicts`."""
    dets = [determinant] if isinstance(determinant, str) else list(determinant)
    return key_verdicts(df, dets, [dependent]).select(F.inline("fd"))
