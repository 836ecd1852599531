"""Misra-Gries storable summaries: error bound, bounded merge, Spark
two-stage path."""

import numpy as np
from pyspark.sql import functions as F

from json_schema_spark.operators import sketches as sk


# ---------------------------------------------------------- Misra-Gries core

def _zipf_counts():
    # heavy head: item-i has count 2000/(i+1) for i<10, tail of 1s
    counts = {f"hot{i}": 2000 // (i + 1) for i in range(10)}
    counts.update({f"cold{i}": 1 for i in range(500)})
    return counts


def test_mg_guarantee_and_error_bound():
    counts = _zipf_counts()
    n = sum(counts.values())
    red, off = sk.mg_reduce(counts, m=64)
    assert off <= n // (64 + 1)
    # every item with true freq > n/(m+1) survives
    for k, v in counts.items():
        if v > n / 65:
            assert k in red
            assert red[k] <= v <= red[k] + off  # undercount bounded


def test_mg_merge_preserves_heavy_hitters():
    counts = _zipf_counts()
    items = [k for k, v in counts.items() for _ in range(v)]
    rng = np.random.RandomState(3)
    rng.shuffle(items)
    chunks = np.array_split(np.array(items), 9)
    summs = []
    for c in chunks:
        vals, cnts = np.unique(c, return_counts=True)
        summs.append(sk.mg_reduce(dict(zip(vals.tolist(), cnts.tolist())), 64))
    merged, off = sk.mg_merge(summs, 64)
    n = len(items)
    assert off <= n // 65 * 9 + 9  # offsets add (per-chunk bound)
    top5_true = sorted(counts, key=counts.get, reverse=True)[:5]
    top5_mg = sorted(merged, key=merged.get, reverse=True)[:5]
    assert top5_mg == top5_true


# ------------------------------------------------------------- Spark paths

def test_mg_by_partition_vs_exact_topk(spark):
    # skewed stream: per partition, 'dom0'..'dom4' hot, 200 cold singles
    df = spark.range(0, 40_000).select(
        (F.col("id") % 4).cast("string").alias("p"),
        F.when(F.col("id") % 10 < 7,
               F.concat(F.lit("dom"), (F.col("id") % 5)))
         .otherwise(F.concat(F.lit("cold"), F.col("id"))).alias("v"),
    )
    rows = sk.mg_topk_by_partition(df, "v", "p", m=32).collect()
    from pyspark.sql import Window
    w = Window.partitionBy("p").orderBy(F.desc("cnt"), "v")
    exact_top = {
        (r["p"], r["v"]) for r in
        df.groupBy("p", "v").agg(F.count("*").alias("cnt"))
        .withColumn("rk", F.row_number().over(w)).where("rk <= 5").collect()
    }
    for r in rows:
        summ = dict(zip(r["items"], r["counts"]))
        top5 = sorted(summ, key=summ.get, reverse=True)[:5]
        for v in top5:
            assert (r["partition"], v) in exact_top
        assert len(r["items"]) <= 32
