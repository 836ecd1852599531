"""KLL quantile sketches per partition (operators/tdigest.py): edge
cases, KS agreement with the exact operator inside and outside the
exact regime, the incremental cross-run drift path through the IceTable
results seam, and plans with no Python evaluation."""

import math

import pytest
from pyspark.sql import functions as F

from json_schema_spark.operators import tdigest as td
from json_schema_spark.operators.drift import ks_by_partition
from json_schema_spark.plans.runner import ValidationRunner
from json_schema_spark.session import local_frame

PYTHON_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython")


def _values(spark, pairs):
    return local_frame(spark, pairs, "day string, v double")


def _exact(df):
    return {r["partition"]: r["ks"] for r in ks_by_partition(df, "v", "day").collect()}


def _drifted(spark, n):
    """8 daily partitions of a uniform-ish numeric column; day 7's
    distribution is shifted+stretched (strong KS-positive drift)."""
    df = spark.range(0, n).select(
        F.pmod(F.col("id"), F.lit(8)).cast("string").alias("day"),
        F.pmod(F.abs(F.xxhash64("id")), F.lit(1000)).cast("double").alias("v"),
    )
    return df.withColumn(
        "v", F.when(F.col("day") == "7", F.col("v") * 1.5 + 200).otherwise(F.col("v")))


@pytest.fixture()
def drifted(spark):
    return _drifted(spark, 40_000)


def test_empty_input(spark):
    digests = td.digest_by_partition(_values(spark, []), "v", "day")
    assert digests.count() == 0
    assert td.ks_by_partition_tdigest(digests) == []


def test_single_partition_has_no_rest(spark, webpages, tmp_path):
    digests = td.digest_by_partition(
        _values(spark, [("d0", float(i)) for i in range(50)]), "v", "day")
    [(p, n, ks)] = td.ks_by_partition_tdigest(digests)
    assert (p, n) == ("d0", 50) and math.isnan(ks)

    spec = {"columns": {"text": {"type": "string"}},
            "dataset": {"drift": [{"column": "char_length(text)",
                                   "test": "tdigest", "by": "warc_day"}]}}
    one_day = webpages.where(
        F.col("warc_day") == webpages.agg(F.min("warc_day")).first()[0])
    runner = ValidationRunner(spark, spec, str(tmp_path / "res"), run_id="one")
    [row] = runner.run_dataset_checks(one_day).collect()
    assert row["check"] == "drift_tdigest(char_length(text) by warc_day)"
    assert (row["pass"], row["n_violations"], row["metric"]) == (True, 0, 0.0)


def test_constant_column_has_zero_ks(spark):
    df = _values(spark, [(d, 5.0) for d in ("a", "b") for _ in range(300)])
    got = td.ks_by_partition_tdigest(td.digest_by_partition(df, "v", "day"))
    assert got == [("a", 300, 0.0), ("b", 300, 0.0)]


def test_duplicate_heavy_values_match_exact_ks(spark):
    """Repeated values carry all their mass at one point: the true
    two-sample KS of [0]*30+[1]*10 vs [0.5]*30+[1]*10 is 0.75."""
    df = _values(spark, [("a", 0.0)] * 30 + [("a", 1.0)] * 10
                 + [("b", 0.5)] * 30 + [("b", 1.0)] * 10)
    got = {p: ks for p, _, ks in
           td.ks_by_partition_tdigest(td.digest_by_partition(df, "v", "day"))}
    assert got == {"a": 0.75, "b": 0.75}
    assert _exact(df) == {"a": 0.75, "b": 0.75}


def test_exact_regime_ks_equals_exact_and_repeats(spark):
    """With k >= the row count every sketch holds every value and the
    grid is every distinct value: the KS is the exact KS, run to run."""
    df = _drifted(spark, 8_000)
    digests = td.digest_by_partition(df, "v", "day", k=8_000)
    first = td.ks_by_partition_tdigest(digests, k=8_000)
    assert first == td.ks_by_partition_tdigest(digests, k=8_000)
    assert {p: round(ks, 6) for p, _, ks in first} == _exact(df)
    assert [n for _, n, _ in first] == [1000] * 8


def test_sketch_ks_tracks_exact_and_flags_drift(drifted):
    sketch = {p: ks for p, _, ks in
              td.ks_by_partition_tdigest(td.digest_by_partition(drifted, "v", "day"))}
    exact = _exact(drifted)
    assert set(sketch) == set(exact)
    for p in exact:
        assert abs(sketch[p] - exact[p]) < 0.05, p
    assert max(sketch, key=sketch.get) == "7"


def test_sketch_ks_gap_bound_at_default_k(spark):
    """Outside the exact regime: 100k rows over 8 days (12.5k per day,
    so every k=200 sketch compacts), heavy-tailed integer values, one
    day stretched by 20%. Bound on |sketch KS - exact KS| per day:
    0.03. At k=200 a single rank is off by at most ~1.33% (99%
    confidence); the partition's CDF carries one such error and the
    rest's, (N·F_all - n·F_p)/(N - n), about 8/7 + 1/7 of one more at
    eight equal days, so 2.3 x 1.33% ~ 0.03. Measured on 200k rows,
    20 runs: largest gap 0.0068."""
    df = spark.range(0, 100_000).select(
        F.pmod(F.col("id"), F.lit(8)).cast("string").alias("day"),
        F.floor(F.exp(F.randn(7) * 0.8 + 6.0)).cast("double").alias("v"))
    df = df.withColumn(
        "v", F.when(F.col("day") == "7", F.col("v") * 1.2).otherwise(F.col("v")))
    df = df.persist()
    try:
        digests = td.digest_by_partition(df, "v", "day")
        assert digests.agg(F.min("n")).first()[0] > 50 * td.DEFAULT_K
        sketch = {p: ks for p, _, ks in td.ks_by_partition_tdigest(digests)}
        exact = _exact(df)
        gaps = {p: abs(sketch[p] - exact[p]) for p in exact}
        assert max(gaps.values()) < 0.03, gaps
        assert max(sketch, key=sketch.get) == "7"
    finally:
        df.unpersist()


def test_incremental_drift_from_stored_digests(spark, drifted, tmp_path):
    """The daily-monitoring path: history lives as sketches in an
    IceTable; a new day's drift check scans ONLY the new day and merges
    stored sketches — and still flags the drifted day."""
    from json_schema_spark.sources.icetable import IceTable

    store = IceTable.create(spark, str(tmp_path / "digests"),
                            td.DIGEST_SCHEMA, ["partition"])
    hist_days = [str(d) for d in range(7)]
    for day in hist_days:  # one commit per day, as a daily run would
        store.append(td.digest_by_partition(
            drifted.where(F.col("day") == day), "v", "day"))
    assert len(store.snapshots()) == len(hist_days)

    # day D+1 arrives: one scan of the NEW day only
    new = td.digest_by_partition(drifted.where(F.col("day") == "7"), "v", "day")
    with_new = {p: ks for p, _, ks in td.ks_by_partition_tdigest(
        store.scan().unionByName(new))}
    history = {p: ks for p, _, ks in td.ks_by_partition_tdigest(store.scan())}
    ks_new, ks_ctl = with_new["7"], history[hist_days[0]]
    assert ks_new > 5 * ks_ctl and ks_new > 0.2  # planted drift dominates


def _python_free(plan: str) -> None:
    assert not [n for n in PYTHON_NODES if n in plan], plan


def test_digest_plan_has_no_python(drifted):
    digests = td.digest_by_partition(drifted, "v", "day")
    digests.collect()
    plan = digests._jdf.queryExecution().executedPlan().toString()
    assert "kll_sketch_agg_double" in plan, plan
    _python_free(plan)


def test_runner_tdigest_drift_plans_have_no_python(spark, webpages, tmp_path,
                                                    monkeypatch):
    """Every query the spec's tdigest drift check runs is JVM-only."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    collect = DataFrame.collect

    def spy(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    spec = {"columns": {"text": {"type": "string"}},
            "dataset": {"drift": [{"column": "char_length(text)",
                                   "test": "tdigest", "by": "warc_day"}]}}
    runner = ValidationRunner(spark, spec, str(tmp_path / "res"), run_id="plan")
    rows = runner.run_dataset_checks(webpages).collect()
    assert [r["check"] for r in rows] == ["drift_tdigest(char_length(text) by warc_day)"]
    assert any("kll_sketch_agg_double" in p for p in plans), plans
    for plan in plans:
        _python_free(plan)
