"""Storable Misra-Gries heavy-hitter summaries, a mergeable sketch
beside :mod:`json_schema_spark.operators.tdigest` (quantiles).

`operators/stats.py` already answers the question exactly
(`heavy_hitters`); what it does not give you is a sketch you can KEEP.
A summary is plain arrays, so per-partition summaries persist to the
results :class:`~json_schema_spark.sources.icetable.IceTable` and merge
across runs: "top domains this quarter" costs one scan of the NEW
partition plus a metadata-sized merge of stored summaries — never a
rescan of history. Distinct counts need no Python sketch: Spark's
storable HLL (``hll_sketch_agg`` / ``hll_union_agg``) covers them.

Plan shape (the same as tdigest, :mod:`.sketch_base`):

* value prep JVM-side (column ops — no Python over raw values);
* stage 1 ``mapInPandas``: each Arrow batch folds to one summary per
  partition-value it contains;
* stage 2 ``groupBy(partition).applyInPandas``: summary merge. The
  shuffle carries m counter pairs per summary, not rows.

Guarantee (pytest-pinned): with m counters, estimates undercount by at
most the summary's tracked ``offset`` <= n/(m+1); any value with true
frequency > n/(m+1) is guaranteed present (the classic frequent-items
bound), and merging preserves it (offsets add).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_schema_spark.operators.sketch_base import two_stage_sketch

MG_SCHEMA = ("partition string, items array<string>, counts array<long>, "
             "offset long, n_rows long")


# ---------------------------------------------------------------------------
# Misra-Gries heavy-hitter summary
# ---------------------------------------------------------------------------

def mg_reduce(counts: dict[str, int], m: int) -> tuple[dict[str, int], int]:
    """Reduce an exact count dict to <= m counters, returning the
    decrement offset applied (the classic frequent-items step:
    subtract the (m+1)-largest count from everyone, drop <= 0)."""
    if len(counts) <= m:
        return dict(counts), 0
    srt = sorted(counts.values(), reverse=True)
    off = srt[m]
    return {k: v - off for k, v in counts.items() if v > off}, off


def mg_merge(
    summaries: list[tuple[dict[str, int], int]], m: int,
) -> tuple[dict[str, int], int]:
    """Merge summaries: counts add, then one more reduce; offsets add
    (Agarwal et al., 'Mergeable Summaries')."""
    total: dict[str, int] = {}
    off_sum = 0
    for counts, off in summaries:
        off_sum += off
        for k, v in counts.items():
            total[k] = total.get(k, 0) + v
    reduced, off = mg_reduce(total, m)
    return reduced, off_sum + off


def mg_topk_by_partition(
    df: DataFrame, value: str | Column, by: str | Column, m: int = 64,
) -> DataFrame:
    """One Misra-Gries summary row per partition (MG_SCHEMA): up to m
    (item, adjusted-count) pairs plus the error ``offset``; true count
    of any surviving item is within [count, count + offset]."""
    val = F.col(value) if isinstance(value, str) else value
    part = F.col(by) if isinstance(by, str) else by
    base = (
        df.where(val.isNotNull() & part.isNotNull())
        .select(part.cast("string").alias("partition"),
                val.cast("string").alias("v"))
    )

    def fold(pv: str, grp: pd.DataFrame) -> tuple:
        red, off = mg_reduce(grp["v"].value_counts().to_dict(), m)
        items = sorted(red)  # deterministic layout
        return (pv, items, [int(red[i]) for i in items], int(off), len(grp))

    def merge_rows(pdf: pd.DataFrame) -> tuple:
        summs = [mg_row_to_summary(r) for _, r in pdf.iterrows()]
        red, off = mg_merge(summs, m)
        items = sorted(red)
        return (pdf["partition"].iloc[0], items,
                [int(red[i]) for i in items], int(off),
                int(pdf["n_rows"].sum()))

    return two_stage_sketch(base, MG_SCHEMA,
                            ["partition", "items", "counts", "offset", "n_rows"],
                            fold, merge_rows)


def mg_row_to_summary(row) -> tuple[dict[str, int], int]:
    return (dict(zip(row["items"], (int(c) for c in row["counts"]))),
            int(row["offset"]))
