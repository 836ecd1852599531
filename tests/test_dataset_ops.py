"""Dataset-level operator tests on the synthetic webpage table:
uniqueness (salted), referential (anti-join), drift (chi2/KS), stats."""

from __future__ import annotations

from bisect import bisect_right
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction
from math import floor, log

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from json_schema_spark.operators import drift
from json_schema_spark.operators.drift import (
    chi2_by_partition,
    ks_by_partition,
    ks_stat,
    psi_by_partition,
)
from json_schema_spark.operators.referential import (
    referential_verdict,
    referential_violations,
)
from json_schema_spark.operators.stats import column_stats, stats_long
from json_schema_spark.operators.unique import duplicate_keys, uniqueness_verdict
from json_schema_spark.session import local_frame
from json_schema_spark.sources import tables as tb

N = 5000


def test_salted_unique_matches_plain_groupby(webpages):
    salted = {
        tuple(r) for r in duplicate_keys(webpages, ["url"], salt_width=16).collect()
    }
    plain = {
        tuple(r)
        for r in webpages.groupBy("url").count().where("count > 1")
        .withColumnRenamed("count", "dup_count").collect()
    }
    assert salted == plain
    assert len(salted) > 0  # planted DUP_URL_MOD duplicates exist


def test_uniqueness_verdict(webpages):
    v = uniqueness_verdict(webpages, ["url"]).collect()[0]
    assert v["pass"] is False
    # planted: (N-1)//DUP_URL_MOD copied-url pairs, plus ONE hot key —
    # every malformed url is the same literal (the skew case salting
    # exists for).
    n_pairs = (N - 1) // tb.DUP_URL_MOD
    n_bad = (N - 1) // tb.BAD_URL_MOD
    assert v["n_violating_keys"] == n_pairs + 1
    assert v["n_violating_rows"] == 2 * n_pairs + n_bad


def test_referential_anti_join(spark, webpages):
    dim = tb.lang_dim(spark)
    miss = referential_violations(webpages, dim, "lang", "lang_code")
    assert miss.count() == webpages.where(F.col("lang") == "xx").count()
    verdict = referential_verdict(webpages, dim, "lang", "lang_code").collect()[0]
    assert verdict["pass"] is False
    # broadcast hint visible in plan (dim side must not shuffle)
    plan = miss._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_chi2_flags_drift_day(webpages):
    res = chi2_by_partition(webpages, "lang", "warc_day")
    rows = res.collect()
    assert len(rows) == tb.N_DAYS
    drifted = max(rows, key=lambda r: r["chi2"])
    assert str(drifted["partition"]) == "2024-03-08"  # DRIFT_DAY = 7
    others = [r["chi2"] for r in rows if r is not drifted]
    assert drifted["chi2"] > 10 * max(others)


def test_ks_exact_and_binned_agree(webpages):
    df = webpages.withColumn("tlen", F.char_length("text"))
    exact = {r["partition"]: r for r in ks_by_partition(df, "tlen", "lang").collect()}
    binned = {r["partition"]: r for r in
              ks_by_partition(df, "tlen", "lang", n_bins=512).collect()}
    assert set(exact) == set(binned) and len(exact) > 2
    for lang, r in exact.items():
        assert r["n_rows"] == binned[lang]["n_rows"]
        assert abs(r["ks"] - binned[lang]["ks"]) < 0.02, lang
    # every lang draws its text from the same generator -> small KS
    assert exact["en"]["ks"] < 0.1


def _round6(x):
    """Spark's round(x, 6) on a double: HALF_UP on its decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _ks(a: list[float], b: list[float]):
    """Two-sample KS: the largest CDF gap over the pooled values."""
    if not a or not b:
        return None
    a, b = sorted(a), sorted(b)
    return _round6(max(abs(bisect_right(a, x) / len(a) - bisect_right(b, x) / len(b))
                       for x in a + b))


def _ks_by_partition_ref(rows, n_bins=None):
    rows = [(p, v) for p, v in rows if p is not None and v is not None]
    if n_bins is not None and rows:
        lo, hi = min(v for _, v in rows), max(v for _, v in rows)
        rows = [(p, min(n_bins - 1, floor((v - lo) / ((hi - lo) / n_bins + 1e-12))))
                for p, v in rows]
    parts = {p for p, _ in rows}
    return {(p, sum(q == p for q, _ in rows),
             _ks([v for q, v in rows if q == p], [v for q, v in rows if q != p]))
            for p in parts}


_value = st.one_of(st.none(), st.integers(0, 5), st.integers(-1000, 1000)).map(
    lambda x: None if x is None else float(x))


@settings(max_examples=25, deadline=None, derandomize=True)
@given(rows=st.lists(st.tuples(st.sampled_from([None, "a", "b", "c"]), _value),
                     max_size=40))
@example(rows=[])
@example(rows=[("a", 1.0), ("a", 1.0), ("a", 7.0), (None, 3.0)])  # lone partition
def test_ks_matches_pure_python(spark, rows):
    """ks_by_partition (exact and binned) and ks_stat equal a plain
    sorted/bisect KS on frames with ties, NULLs and lone partitions."""
    df = local_frame(spark, rows, "p string, v double")
    for n_bins in (None, 4):
        got = {tuple(r) for r in ks_by_partition(df, "v", "p", n_bins=n_bins).collect()}
        assert got == _ks_by_partition_ref(rows, n_bins), n_bins
    a = [v for p, v in rows if p == "a" and v is not None]
    b = [v for p, v in rows if p == "b" and v is not None]
    [stat] = ks_stat(df, "v", "p", "a", "b").collect()
    assert tuple(stat) == (len(a) or None, len(b) or None, _ks(a, b))


def _chi2_psi_ref(rows, eps=1e-6):
    """chi2 and PSI of every partition over the full partition x
    category grid, unrounded: chi2 exactly (rationals), PSI in floats."""
    rows = [(p, c) for p, c in rows if p is not None and c is not None]
    parts, cats = sorted({p for p, _ in rows}), sorted({c for _, c in rows})
    n = {(p, c): sum(r == (p, c) for r in rows) for p in parts for c in cats}
    n_part = {p: sum(n[p, c] for c in cats) for p in parts}
    n_cat = {c: sum(n[p, c] for p in parts) for c in cats}
    chi2, psi = {}, {}
    for p in parts:
        exp = {c: Fraction(n_cat[c] * n_part[p], len(rows)) for c in cats}
        chi2[p] = float(sum((n[p, c] - exp[c]) ** 2 / exp[c] for c in cats))
        n_rest = len(rows) - n_part[p]
        psi[p] = None
        if n_rest:
            shares = [(max(n[p, c] / n_part[p], eps), max((n_cat[c] - n[p, c]) / n_rest, eps))
                      for c in cats]
            psi[p] = sum((a - b) * log(a / b) for a, b in shares)
    return ({p: (chi2[p], len(cats) - 1, n_part[p]) for p in parts},
            {p: (psi[p], n_part[p]) for p in parts})


def _close(got, want, places):
    """Equal up to one unit of the place ``got`` is rounded to."""
    return (got is None) == (want is None) and (
        got is None or abs(got - want) <= 1.000001 * 10.0 ** -places)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(rows=st.lists(st.tuples(st.sampled_from([None, "a", "b", "c"]),
                               st.sampled_from([None, "x", "y", "z", "w"])),
                     max_size=40))
@example(rows=[])
@example(rows=[("a", "x"), ("a", "y"), ("a", "y"), (None, "z"), ("b", None)])  # lone partition
@example(rows=[("a", "x")] * 3 + [("b", "x"), ("b", "y"), ("c", "z"), ("c", "z")])
def test_chi2_and_psi_match_pure_python(spark, rows):
    """chi2_by_partition and psi_by_partition equal a plain full-grid
    computation on frames with ties, NULL categories and partitions,
    categories absent from a partition and lone partitions."""
    _check_chi2_psi(local_frame(spark, rows, "p string, c string"), rows)


def _check_chi2_psi(df, ref_rows):
    """chi2 and PSI of category ``c`` by partition ``p`` (passed once as
    a name and once as a Column) against :func:`_chi2_psi_ref`."""
    want_chi2, want_psi = _chi2_psi_ref(ref_rows)
    chi2 = {r["partition"]: r for r in chi2_by_partition(df, "c", F.col("p")).collect()}
    assert set(chi2) == set(want_chi2)
    for p, (stat, dof, n) in want_chi2.items():
        assert (chi2[p]["dof"], chi2[p]["n_rows"]) == (dof, n)
        assert _close(chi2[p]["chi2"], stat, 4), (p, chi2[p], stat)
    psi = {r["partition"]: r for r in psi_by_partition(df, F.col("c"), "p").collect()}
    assert set(psi) == set(want_psi)
    for p, (stat, n) in want_psi.items():
        assert psi[p]["n_rows"] == n
        assert _close(psi[p]["psi"], stat, 6), (p, psi[p], stat)


def test_drift_takes_nan_as_one_value(spark):
    """NaN is one category and one value, above every number, as Spark
    groups and orders it: the statistics equal the references with NaN
    spelled as one string category, and as +inf."""
    nan = float("nan")
    rows = [("a", 1.0), ("a", nan), ("a", 3.0), ("b", nan), ("b", nan), ("c", 1.0), ("c", 2.0)]
    df = local_frame(spark, rows, "p string, c double")
    _check_chi2_psi(df, [(p, repr(c)) for p, c in rows])
    got = {tuple(r) for r in ks_by_partition(df, "c", "p").collect()}
    assert got == _ks_by_partition_ref([(p, float("inf") if c != c else c) for p, c in rows])


def _days(spark):
    return spark.range(0, 20_000, numPartitions=4).select(
        F.pmod(F.col("id"), F.lit(8)).cast("string").alias("day"),
        F.pmod(F.abs(F.xxhash64("id")), F.lit(3000)).alias("v"))


@pytest.mark.parametrize("persisted", [False, True], ids=["plain", "persisted"])
def test_ks_by_partition_job_budget(spark, count_jobs, persisted):
    """Every statistic is one aggregate down to cells, collected: the
    input is read once, also when it is cached. Binning buckets the
    cells between their bounds, one more exchange over the cells."""
    df = _days(spark)
    if persisted:
        df = df.persist()
        df.count()  # the cache is built before any statistic is counted
    try:
        for name, stat, budget in [
            ("ks-binned", lambda: ks_by_partition(df, "v", "day", n_bins=256), 3),
            ("ks-exact", lambda: ks_by_partition(df, "v", "day"), 2),
            ("chi2", lambda: chi2_by_partition(df, "v", "day"), 2),
            ("psi", lambda: psi_by_partition(df, "v", "day"), 2),
        ]:
            n_jobs, rows = count_jobs(f"{name}-{persisted}", lambda: stat().collect())
            assert len(rows) == 8, name
            assert n_jobs <= budget, (name, n_jobs)
    finally:
        df.unpersist()


def test_drift_cell_bound(spark, monkeypatch):
    """Above MAX_CELLS cells an exact KS raises before it finishes any
    row; binned, the same frame stays within the bound and gives the
    reference rows."""
    df = _days(spark)  # ~2,900 distinct values per day
    monkeypatch.setattr(drift, "MAX_CELLS", 8 * 16)
    with monkeypatch.context() as m:
        m.setattr(drift, "_ks", lambda cells: pytest.fail("finished past the bound"))
        with pytest.raises(ValueError, match=r"more than 128 .*n_bins"):
            ks_by_partition(df, "v", "day")
    got = {tuple(r) for r in ks_by_partition(df, "v", "day", n_bins=16).collect()}
    assert got == _ks_by_partition_ref([tuple(r) for r in df.collect()], 16)


def test_single_pass_stats(webpages):
    wide = column_stats(
        webpages, columns=["url", "text", "lang"], by=["warc_day"],
        hist_col="text",
    )
    rows = wide.collect()
    assert len(rows) == tb.N_DAYS
    total_nulls = sum(r["text_nulls"] for r in rows)
    assert total_nulls == (N - 1) // tb.NULL_TEXT_MOD
    # histogram buckets sum to non-null text rows
    r0 = rows[0]
    hist_sum = sum(r0[f"text_len_hist_{b}"] for b in range(32)) + r0["text_len_hist_overflow"]
    assert hist_sum == r0["n_rows"] - r0["text_nulls"]
    # ONE shuffle: physical plan has exactly one Exchange
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # partial+final agg pair


def test_stats_long_null_rates(webpages):
    res = stats_long(webpages, ["text", "warc_ts"], by="lang")
    rows = res.collect()
    assert all(0.0 <= r["null_rate"] <= 1.0 for r in rows)
    total = sum(r["n_nulls"] for r in rows if r["column"] == "text")
    assert total == (N - 1) // tb.NULL_TEXT_MOD


def test_psi_by_partition_planted_shift(spark):
    """PSI: a partition whose category mix is identical to the rest
    scores ~0; a partition with an exclusive category scores high."""
    from json_schema_spark.operators.drift import psi_by_partition

    rows = (
        [("p1", "en")] * 50 + [("p1", "de")] * 50
        + [("p2", "en")] * 50 + [("p2", "de")] * 50
        + [("p3", "zz")] * 100          # exclusive category: max drift
    )
    df = spark.createDataFrame(rows, "part string, lang string")
    got = {r["partition"]: r["psi"]
           for r in psi_by_partition(df, "lang", "part").collect()}
    # p1 vs rest: rest = p2(en/de) + p3(zz); p1 has no zz -> moderate
    assert got["p3"] > 5.0              # exclusive category, eps-bounded
    assert got["p3"] > got["p1"] > 0.0
    assert abs(got["p1"] - got["p2"]) < 1e-9  # symmetric partitions


def test_sessionize_gap_boundaries(spark):
    from json_schema_spark.operators.textstats import sessionize

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:29:59"),  # 29:59 gap -> same session
        (1, "2024-01-01 01:00:00"),  # 30:01 gap -> new session
        (1, "2024-01-01 01:30:00"),  # exactly 30:00 -> SAME session
        (2, "2024-01-01 00:00:00"),  # other user independent
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {(r["user_id"], str(r["ts"])): r["session_seq"]
           for r in sessionize(df, "user_id", "ts", 30).collect()}
    assert got[(1, "2024-01-01 00:00:00")] == 1
    assert got[(1, "2024-01-01 00:29:59")] == 1
    assert got[(1, "2024-01-01 01:00:00")] == 2
    assert got[(1, "2024-01-01 01:30:00")] == 2  # 30:00 is NOT > gap
    assert got[(2, "2024-01-01 00:00:00")] == 1
    # fractional-second gap just over the threshold starts a session
    frac = spark.createDataFrame(
        [(9, "2024-01-01 00:00:00.950"), (9, "2024-01-01 00:30:01.200")],
        "user_id long, ts string").withColumn("ts", F.to_timestamp("ts"))
    from json_schema_spark.operators.textstats import sessionize as _sz
    fgot = sorted(r["session_seq"] for r in _sz(frac, "user_id", "ts", 30).collect())
    assert fgot == [1, 2]  # 1800.25s > 1800s
    # NULL ts rows are dropped, not turned into session boundaries
    withnull = spark.createDataFrame(
        [(9, None), (9, "2024-01-01 00:00:00"), (9, "2024-01-01 00:05:00")],
        "user_id long, ts string").withColumn("ts", F.to_timestamp("ts"))
    ngot = {str(r["ts"]): r["session_seq"]
            for r in _sz(withnull, "user_id", "ts", 30).collect()}
    assert ngot == {"2024-01-01 00:00:00": 1, "2024-01-01 00:05:00": 1}


def test_asof_join_semantics(spark):
    """Ties match (<=), missing prior rows give NULL, and right rows
    with NULL columns must not splice values across rows."""
    from json_schema_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(10, 1, "L1"), (20, 1, "L2"), (5, 2, "L3"), (30, 3, "L4")],
        "ts long, k long, tag string")
    right = spark.createDataFrame(
        [(10, 1, "A", 1.0),        # tie with L1 -> matches (<=)
         (15, 1, None, 2.0),       # NULL col: L2 must get (None, 2.0),
                                   # NOT (A, 2.0) spliced from row 1
         (3, 2, "C", 3.0)],   # ts 3 <= 5 precedes L3
        "ts long, k long, name string, v double")
    out = {r["tag"]: (r["name_r"], r["v_r"]) for r in
           asof_join(left, right, on="ts", by="k",
                     right_cols=["name", "v"]).collect()}
    assert out["L1"] == ("A", 1.0)
    assert out["L2"] == (None, 2.0)   # atomic struct carry
    assert out["L3"] == ("C", 3.0)
    assert out["L4"] == (None, None)  # no right rows for k=3


def test_range_join_no_nested_loop(spark):
    """Bucketized range join matches the naive inequality join and
    plans a hash join, not BroadcastNestedLoop."""
    from json_schema_spark.operators.joins import range_join

    pts = spark.range(0, 500).select(F.col("id").alias("p"))
    iv = spark.createDataFrame(
        [(0, 100, "a"), (50, 150, "b"), (449, 500, "c"), (490, 491, "d"),
         (200, 200, "empty"), (None, 10, "nulls")],
        "lo long, hi long, tag string")
    out = range_join(pts, iv, point="p", lo="lo", hi="hi")
    naive = pts.crossJoin(iv).where(
        F.col("lo").isNotNull() & F.col("hi").isNotNull()
        & (F.col("lo") <= F.col("p")) & (F.col("p") < F.col("hi")))
    got = {(r["p"], r["tag"]) for r in out.collect()}
    want = {(r["p"], r["tag"]) for r in naive.collect()}
    assert got == want and len(want) == 100 + 100 + 51 + 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan


def test_range_join_fractional_bounds_and_collision_guard(spark):
    """Review r2: fractional interval bounds must not drop the last
    bucket, and overlapping column names are rejected explicitly."""
    from json_schema_spark.operators.joins import range_join

    pts = spark.createDataFrame([(1.0,), (0.6,), (1.3,)], "p double")
    iv = spark.createDataFrame([(0.5, 1.2, "a")], "lo double, hi double, tag string")
    got = {(r["p"], r["tag"]) for r in
           range_join(pts, iv, point="p", lo="lo", hi="hi",
                      bucket_width=1).collect()}
    assert got == {(1.0, "a"), (0.6, "a")}  # 1.0 in [0.5,1.2); 1.3 not
    import pytest as _pytest
    bad_left = spark.createDataFrame([(1.0, 0.0)], "p double, lo double")
    with _pytest.raises(ValueError, match="share column names"):
        range_join(bad_left, iv, point="p", lo="lo", hi="hi")


def test_runner_chi2_all_null_column_passes(spark, tmp_path):
    """Review r2: an all-null drift column yields a passing verdict,
    not a driver crash."""
    from json_schema_spark.plans.runner import ValidationRunner

    df = spark.createDataFrame(
        [(1, None, "d1"), (2, None, "d2")],
        "id long, lang string, warc_day string")
    spec = {"draft": "draft7", "columns": {},
            "dataset": {"drift": [
                {"column": "lang", "test": "chi2", "by": "warc_day"}]}}
    runner = ValidationRunner(spark, spec, str(tmp_path / "r"), run_id="x")
    rows = {r["check"]: r for r in runner.run_dataset_checks(df).collect()}
    assert rows["drift_chi2(lang by warc_day)"]["pass"] is True


def test_cardinality_profile_and_heavy_hitters(spark):
    from json_schema_spark.operators.stats import (
        cardinality_profile,
        heavy_hitters,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    prof = {r["col_name"]: r for r in
            cardinality_profile(docs, ["lang", "doc_id"]).collect()}
    assert prof["doc_id"]["n_distinct"] == prof["doc_id"]["n_rows"]
    # HLL approx within 5% of exact
    for c in prof:
        exact, approx = prof[c]["n_distinct"], prof[c]["n_distinct_approx"]
        assert abs(approx - exact) <= max(1, 0.05 * exact), (c, exact, approx)

    # every figure equals its own per-column query, NULLs included: the
    # approx one is the same HLL estimate as over the raw column
    with_nulls = docs.select(
        F.when(F.col("doc_id") % 50 != 0, F.col("text")).alias("text"),
        F.when(F.col("doc_id") % 70 != 3, F.col("lang")).alias("lang"),
        "n_chars")
    cols = ["text", "lang", "n_chars"]
    for df in (docs.select(*cols), with_nulls):
        n = df.count()
        want = [(c, df.select(c).where(F.col(c).isNotNull()).distinct().count(),
                 df.agg(F.approx_count_distinct(c)).first()[0],
                 df.where(F.col(c).isNull()).count(), n) for c in cols]
        assert [tuple(r) for r in cardinality_profile(df, cols).collect()] == want
    assert any(nulls for *_, nulls, _ in want)
    # an empty frame: no distincts, no rows, and (a sum over no rows) NULL nulls
    empty = cardinality_profile(with_nulls.limit(0), cols)
    assert [tuple(r) for r in empty.collect()] == [(c, 0, 0, None, 0) for c in cols]
    assert empty.dtypes == [("col_name", "string"), ("n_distinct", "bigint"),
                            ("n_distinct_approx", "bigint"), ("n_nulls", "bigint"),
                            ("n_rows", "bigint")]
    hh = heavy_hitters(docs, "lang", k=2).collect()
    assert len(hh) == 2 and hh[0]["n"] >= hh[1]["n"]


def test_bucketed_join_is_exchange_free(spark, webpages, tmp_path):
    """write_bucketed: both sides bucketed on the join key -> the join
    plans with ZERO Exchange nodes (co-located buckets), and results
    equal the plain shuffled join."""
    from json_schema_spark.sources.tables import write_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS btest")
    spark.catalog.setCurrentDatabase("btest")
    docs = webpages.select("url", "lang").where(F.col("lang").isNotNull())
    dim = tb.lang_dim(spark).withColumnRenamed("lang_code", "lang")

    write_bucketed(docs, "docs_b", ["lang"], n_buckets=8)
    write_bucketed(dim, "dim_b", ["lang"], n_buckets=8)
    t1, t2 = spark.table("docs_b"), spark.table("dim_b")

    joined = t1.join(t2.hint("merge"), "lang")  # force SMJ (no broadcast)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]

    expected = docs.join(dim, "lang").count()
    assert joined.count() == expected

    # same layout also makes groupBy(lang) exchange-free
    agg = t1.groupBy("lang").count()
    plan2 = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2, plan2[:2000]
    spark.sql("DROP TABLE IF EXISTS docs_b")
    spark.sql("DROP TABLE IF EXISTS dim_b")


def test_psi_single_partition_is_null(spark):
    """Review regression: with one partition there IS no rest — PSI
    must be NULL, not the epsilon-smoothed ~13 the null-skipping
    greatest() produced."""
    from json_schema_spark.operators.drift import psi_by_partition

    df = spark.createDataFrame([("p1", "en")] * 50 + [("p1", "de")] * 50,
                               ["part", "lang"])
    rows = psi_by_partition(df, "lang", "part").collect()
    assert len(rows) == 1 and rows[0]["psi"] is None


def test_adaptive_salt_width_responds_to_skew(spark):
    """VERDICT r2 item 1: the skew statistic must actually DRIVE the
    salted aggregation. A key with a 50k-row hot value at
    target_rows_per_task=1000 needs ceil(50000/1000)=50 salt buckets;
    a uniform key needs 1."""
    from json_schema_spark.operators.unique import (
        adaptive_salt_width,
        duplicate_keys,
    )

    skewed = spark.range(0, 60_000).select(
        F.when(F.col("id") < 50_000, F.lit("hot"))
         .otherwise(F.concat(F.lit("k"), F.col("id"))).alias("key"),
        F.col("id").alias("payload"))
    assert adaptive_salt_width(skewed, ["key"],
                               target_rows_per_task=1000) == 50
    assert adaptive_salt_width(skewed, ["key"],
                               target_rows_per_task=1000, max_width=8) == 8
    uniform = spark.range(0, 10_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.col("id").alias("payload"))
    assert adaptive_salt_width(uniform, ["key"],
                               target_rows_per_task=1000) == 1
    # "auto" wiring: identical results to any fixed width
    auto = {tuple(r) for r in duplicate_keys(
        skewed, ["key"], salt_width="auto",
        target_rows_per_task=1000).collect()}
    fixed = {tuple(r) for r in duplicate_keys(
        skewed, ["key"], salt_width=4).collect()}
    assert auto == fixed == {("hot", 50_000)}


def test_empty_input_adaptive_salt(spark):
    from json_schema_spark.operators.unique import adaptive_salt_width

    empty = spark.range(0).select(F.col("id").alias("key"))
    assert adaptive_salt_width(empty, ["key"]) == 1
