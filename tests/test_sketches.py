"""Heavy-hitter summaries on Spark's native frequent-items sketch
(operators/sketches.py): exact counts in the exact regime, the top
items of a skewed stream, stored sketches merging across IceTable
commits, and plans with no Python evaluation."""

from pyspark.sql import functions as F

from json_schema_spark.operators import sketches as sk

PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython")


def _exact(df):
    return {(r["p"], r["v"], r["cnt"]) for r in
            df.groupBy("p", "v").agg(F.count(F.lit(1)).alias("cnt")).collect()}


def _counts(summaries, k):
    return {tuple(r) for r in sk.mg_topk(summaries, k).collect()}


def _small_domain(spark, lo=0, hi=12_000):
    # 4 partitions x 40 distinct values, uneven counts, some NULLs
    return spark.range(lo, hi).select(
        (F.col("id") % 4).cast("string").alias("p"),
        F.when(F.col("id") % 97 == 0, None)
         .otherwise(F.concat(F.lit("v"), (F.col("id") * 7919 % 1601) % 40)).alias("v"))


def _skewed(spark):
    # per partition, 'dom0'..'dom4' hot, ~3,000 cold singles
    return spark.range(0, 40_000).select(
        (F.col("id") % 4).cast("string").alias("p"),
        F.when(F.col("id") % 10 < 7,
               F.concat(F.lit("dom"), (F.col("id") % 5)))
         .otherwise(F.concat(F.lit("cold"), F.col("id"))).alias("v"),
    )


def test_exact_regime_counts(spark):
    df = _small_domain(spark)
    summ = sk.mg_topk_by_partition(df, "v", "p", m=64)
    n_rows = {r["partition"]: r["n_rows"] for r in summ.collect()}
    assert n_rows == {r["p"]: r["n"] for r in
                      df.where(F.col("v").isNotNull()).groupBy("p")
                      .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert _counts(summ, 64) == _exact(df.where(F.col("v").isNotNull()))


def test_top5_equals_exact_top5_on_skewed_stream(spark):
    """With m=32 and ~3,000 distinct values per partition the sketch
    evicts. Each partition of this stream has 3 or 4 hot items (2,000
    rows each), so its exact top 5 ends in singles tied at count 1.
    The sketch's top 5 is the hot items with their exact counts; it
    reports no single, whose count is below its error."""
    df = _skewed(spark)
    exact = {(p, v): cnt for p, v, cnt in _exact(df)}
    got = _counts(sk.mg_topk_by_partition(df, "v", "p", m=32), 5)
    for part in "0123":
        want = sorted(((v, c) for (p, v), c in exact.items() if p == part),
                      key=lambda vc: -vc[1])[:5]
        hot = {(v, c) for v, c in want if c > 1}
        assert {c for _, c in hot} == {2000} and len(hot) >= 3 and want[-1][1] == 1
        assert {(v, c) for p, v, c in got if p == part} == hot


def test_stored_sketches_merge_to_exact_counts(spark, tmp_path):
    """Two runs append their summaries to an IceTable; the stored rows
    of each partition merge to the counts of both runs' data."""
    from json_schema_spark.sources.icetable import IceTable

    store = IceTable.create(spark, str(tmp_path / "mg"), sk.MG_SCHEMA, ["partition"])
    first, second = _small_domain(spark, 0, 5_000), _small_domain(spark, 5_000, 12_000)
    for run in (first, second):
        store.append(sk.mg_topk_by_partition(run, "v", "p", m=64))
    assert len(store.snapshots()) == 2
    assert store.scan().count() == 8
    assert _counts(store.scan(), 64) == _exact(
        first.unionByName(second).where(F.col("v").isNotNull()))


def test_sketch_plans_have_no_python(spark):
    summ = sk.mg_topk_by_partition(_skewed(spark), "v", "p", m=32)
    top = sk.mg_topk(summ, 5)
    for q in (summ, top):
        q.collect()
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "approx_top_k" in plan, plan
        assert not [n for n in PYTHON_NODES if n in plan], plan
