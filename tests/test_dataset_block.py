"""Spec `dataset` block execution (FIXTURES.md §3): unique + ref +
drift checks driven entirely by the constraint-spec JSON."""

from __future__ import annotations

import pytest

from json_schema_spark.plans.runner import ValidationRunner
from json_schema_spark.sources import tables as tb

FULL_SPEC = {
    "$id": "https://example.com/webpage-constraints.json",
    "draft": "draft7",
    "columns": {
        "url": {"type": "string", "format": "uri", "pattern": "^https?://"},
        "lang": {"enum": tb.ALLOWED_LANGS},
        "text": {"type": "string", "minLength": 1},
    },
    "required": ["url", "warc_ts", "text", "lang"],
    "dataset": {
        "unique": ["url"],
        "ref": [{"column": "lang", "table": "lang_dim", "key": "lang_code"}],
        "drift": [
            {"column": "lang", "test": "chi2", "by": "days(warc_ts)"},
            {"column": "char_length(text)", "test": "ks", "by": "days(warc_ts)"},
            {"column": "char_length(text)", "test": "tdigest",
             "by": "days(warc_ts)"},
        ],
        "dedup": [
            {"column": "text", "id": "url", "method": "exact",
             "max_dup_frac": 0.001},
            {"column": "text", "id": "url", "method": "fingerprint",
             "max_dup_frac": 0.5},
        ],
        # domain blocklist at the eTLD+1 level: news.example.com etc.
        # all collapse to example.com (~18% of rows), so the zero-cap
        # check must fail; the unmatched blocklist must pass clean
        "blocklist": [
            {"column": "url", "domains": ["example.com"]},
            {"column": "url", "domains": ["not-in-corpus.org"],
             "max_blocked_frac": 0.0},
        ],
    },
}


def test_dataset_block(spark, webpages, tmp_path):
    runner = ValidationRunner(spark, FULL_SPEC, str(tmp_path / "res"), run_id="ds")
    res = runner.run_dataset_checks(webpages, dims={"lang_dim": tb.lang_dim(spark)})
    rows = {r["check"]: r for r in res.collect()}

    assert rows["unique(url)"]["pass"] is False  # planted dup urls
    assert rows["unique(url)"]["n_violations"] > 0

    assert rows["ref(lang->lang_code)"]["pass"] is False  # planted 'xx'
    assert rows["ref(lang->lang_code)"]["n_violations"] > 0

    # dedup checks: planted exact dups (~1/DUP_TEXT_MOD of rows) exceed
    # the 0.1% cap but sit far under the 50% one
    assert rows["dedup_exact(text)"]["pass"] is False
    assert rows["dedup_exact(text)"]["n_violations"] > 0
    assert rows["dedup_fingerprint(text)"]["pass"] is True
    assert rows["dedup_fingerprint(text)"]["metric"] >= \
        rows["dedup_exact(text)"]["metric"]  # normalization only merges

    chi2 = rows["drift_chi2(lang by days(warc_ts))"]
    assert chi2["pass"] is False  # DRIFT_DAY has a shifted distribution
    assert chi2["metric"] > 0

    bl = rows["blocklist(url vs example.com)"]
    assert bl["pass"] is False and bl["n_violations"] > 0
    # news.example.com (~18%) + the site-N.example.com tail (~60%) all
    # collapse to eTLD+1 example.com — that collapsing IS the check
    assert 0.70 < bl["metric"] < 0.85
    clean = rows["blocklist(url vs not-in-corpus.org)"]
    assert clean["pass"] is True and clean["n_violations"] == 0

    ks = rows["drift_ks(char_length(text) by days(warc_ts))"]
    tdg = rows["drift_tdigest(char_length(text) by days(warc_ts))"]
    # sketch verdict agrees with the exact KS verdict and its statistic
    # lands within sketch tolerance
    assert tdg["pass"] == ks["pass"]
    assert abs(tdg["metric"] - ks["metric"]) < 0.05
    assert ks["pass"] is True  # text lengths share one generator
    assert 0 <= ks["metric"] < 0.2


def test_dataset_block_missing_dim_raises(spark, webpages, tmp_path):
    runner = ValidationRunner(spark, FULL_SPEC, str(tmp_path / "res2"), run_id="ds2")
    with pytest.raises(ValueError, match="lang_dim"):
        runner.run_dataset_checks(webpages, dims={})


def test_dataset_block_incremental_dedup(spark, webpages, tmp_path):
    """Spec-driven cross-snapshot dedup: two "crawl" runs share one
    ledger; the second run's verdict counts history dups, and re-running
    it (checkpoint redo) changes nothing — verdict included."""
    from pyspark.sql import functions as F

    led = str(tmp_path / "ledger")

    def spec_for(snap):
        return {
            "draft": "draft7",
            "columns": {"text": {"type": "string"}},
            "dataset": {"dedup": [
                {"column": "text", "id": "url", "method": "incremental",
                 "ledger": led, "snapshot": snap, "max_dup_frac": 0.001},
            ]},
        }

    # snapshot 0 = even-length urls, snapshot 1 = the rest; the planted
    # duplicate texts guarantee cross-slice dups
    snap0 = webpages.where(F.length("url") % 2 == 0)
    snap1 = webpages.where(F.length("url") % 2 == 1)

    r0 = ValidationRunner(spark, spec_for(0), str(tmp_path / "r0"), run_id="s0")
    row0 = {r["check"]: r for r in
            r0.run_dataset_checks(snap0).collect()}
    chk0 = row0["dedup_incremental(text@snap0)"]

    r1 = ValidationRunner(spark, spec_for(1), str(tmp_path / "r1"), run_id="s1")
    row1 = {r["check"]: r for r in
            r1.run_dataset_checks(snap1).collect()}
    chk1 = row1["dedup_incremental(text@snap1)"]
    assert chk1["n_violations"] > 0          # history dups detected
    assert chk1["pass"] is False             # over the 0.1% cap

    # redo of snapshot 1: identical verdict row, ledger unchanged
    from json_schema_spark.sources.icetable import IceTable

    before = sorted(map(tuple, IceTable(spark, led).scan().collect()))
    row1b = {r["check"]: r for r in
             ValidationRunner(spark, spec_for(1), str(tmp_path / "r1b"),
                              run_id="s1b").run_dataset_checks(snap1).collect()}
    assert row1b["dedup_incremental(text@snap1)"] == chk1
    after = sorted(map(tuple, IceTable(spark, led).scan().collect()))
    assert after == before
    # string url ids survive the ledger roundtrip (keep_id typed from
    # the input schema, not the bigint default)
    led_df = IceTable(spark, led).scan()
    assert dict(led_df.dtypes)["keep_id"] == "string"
    assert led_df.where(F.col("keep_id").isNull()).count() == 0
    # snapshot 0 had no history to collide with
    assert chk0["check"] == "dedup_incremental(text@snap0)"


def test_dataset_block_quality_and_normalized_pass(spark, webpages, tmp_path):
    """r5: per-row quality gates + Unicode-normalization invariant as
    first-class dataset checks — lenient thresholds on the (ASCII,
    prose-like) synthetic corpus must pass clean."""
    spec = {
        "draft": "draft7",
        "columns": {},
        "dataset": {
            "quality": [
                {"column": "text", "id": "url", "signal": "readability",
                 "min_fre": -1e6, "max_fail_frac": 0.0},
                {"column": "text", "id": "url", "signal": "repetition",
                 "ngram": 2, "max_dup_ngram_frac": 1.1,
                 "max_fail_frac": 0.0},
            ],
            "normalized": [
                {"column": "text", "id": "url", "form": "NFC",
                 "max_changed_frac": 0.0},
            ],
        },
    }
    runner = ValidationRunner(spark, spec, str(tmp_path / "q1"), run_id="q1")
    rows = {r["check"]: r for r in runner.run_dataset_checks(webpages).collect()}
    assert rows["quality_readability(text)"]["pass"] is True
    assert rows["quality_readability(text)"]["n_violations"] == 0
    assert rows["quality_repetition(text)"]["pass"] is True
    nfc = rows["normalized_NFC(text)"]
    assert nfc["pass"] is True and nfc["n_violations"] == 0


def test_dataset_block_quality_and_normalized_fail(spark, tmp_path):
    """Planted violations: an impossible FRE floor fails every doc, a
    repeated-bigram doc trips the repetition gate, and decomposed
    unicode trips the NFC invariant."""
    rows = [
        (1, "the cat sat on the mat. it was fine."),
        (2, "spam spam spam spam spam spam"),       # dup bigrams
        (3, "cafe\u0301 latte"),               # decomposed
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spec = {
        "draft": "draft7",
        "columns": {},
        "dataset": {
            "quality": [
                {"column": "text", "signal": "readability",
                 "min_fre": 1000.0, "max_fail_frac": 0.0},
                {"column": "text", "signal": "repetition",
                 "ngram": 2, "max_dup_ngram_frac": 0.5,
                 "max_fail_frac": 0.0},
            ],
            "normalized": [
                {"column": "text", "form": "NFC",
                 "max_changed_frac": 0.0},
            ],
        },
    }
    runner = ValidationRunner(spark, spec, str(tmp_path / "q2"), run_id="q2")
    rows_ = {r["check"]: r for r in runner.run_dataset_checks(df).collect()}
    fre = rows_["quality_readability(text)"]
    assert fre["pass"] is False and fre["n_violations"] == 3  # null skipped
    rep = rows_["quality_repetition(text)"]
    assert rep["pass"] is False and rep["n_violations"] == 1  # doc 2 only
    nfc = rows_["normalized_NFC(text)"]
    assert nfc["pass"] is False and nfc["n_violations"] == 1  # doc 3 only
    assert nfc["metric"] == 0.25  # 1 of 4 rows (null is NFC-identity)


def test_dataset_block_unknown_quality_signal_raises(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    spec = {"draft": "draft7", "columns": {},
            "dataset": {"quality": [{"column": "text",
                                     "signal": "vibes"}]}}
    runner = ValidationRunner(spark, spec, str(tmp_path / "q3"), run_id="q3")
    with pytest.raises(ValueError, match="vibes"):
        runner.run_dataset_checks(df)


# ---------------------------------------------------------------------------
# dataset.fd: functional-dependency constraint A -> B
# ---------------------------------------------------------------------------

def test_fd_violations_and_verdict_hand_fixture(spark):
    from json_schema_spark.operators.referential import (
        fd_verdict, fd_violations,
    )

    rows = [
        ("a", "x"), ("a", "x"),            # consistent key
        ("b", "x"), ("b", "y"),            # 2 values -> violating
        ("c", "x"), ("c", None),           # value + NULL -> violating
        (None, "z"),                       # NULL determinant excluded
        ("d", None), ("d", None),          # only NULL -> 1 value, ok
    ]
    df = spark.createDataFrame(rows, "det string, dep string")
    got = {r.det: r for r in fd_violations(df, "det", "dep").collect()}
    assert set(got) == {"b", "c"}
    assert got["b"].n_dep_values == 2 and got["b"].n_rows == 2
    assert got["c"].n_dep_values == 2   # 'x' + NULL counts as distinct
    v = fd_verdict(df, "det", "dep").collect()[0]
    assert v.check == "fd(det->dep)"
    assert not v["pass"] and v.n_violations == 2
    assert v.violating_key_frac == 0.5  # 2 of 4 non-null keys


def test_fd_spec_block_verdict_row(spark, tmp_path):
    from json_schema_spark.plans.runner import ValidationRunner

    df = spark.createDataFrame(
        [("k1", "v1"), ("k1", "v1"), ("k2", "v1"), ("k2", "v2")],
        "det string, dep string")
    spec = {"type": "object",
            "dataset": {"fd": [
                {"determinant": "det", "dependent": "dep"},
                {"determinant": "det", "dependent": "dep",
                 "max_violating_frac": 0.6},
            ]}}
    runner = ValidationRunner(spark, spec, str(tmp_path / "fd"),
                              run_id="fd")
    rows = runner.run_dataset_checks(df).collect()
    strict, tolerant = rows[0], rows[1]
    assert strict.check == "fd(det->dep)" and not strict["pass"]
    assert strict.n_violations == 1 and strict.metric == 0.5
    assert tolerant["pass"]  # 0.5 <= 0.6 tolerated


# ---------------------------------------------------------------------------
# unique + fd from one key aggregate; the block as concurrent tasks
# ---------------------------------------------------------------------------

def test_key_verdicts_match_unfused_reference(spark):
    """key_verdicts, uniqueness_verdict and fd_verdict against
    duplicate_keys and fd_violations: duplicate and NULL urls, a
    NULL-determinant row, a NULL dependent, a two-column key, and a
    double dependent whose keys hold 0.0 and -0.0, only NaN, NaN and
    1.0, and only NULL."""
    from pyspark.sql import functions as F

    from json_schema_spark.operators.referential import fd_verdict, fd_violations
    from json_schema_spark.operators.unique import (
        duplicate_keys,
        key_verdicts,
        uniqueness_verdict,
    )

    df = spark.createDataFrame([
        ("a", "en", 1), ("a", "en", 1),      # duplicate, consistent
        ("b", "en", 1), ("b", "de", 2),      # duplicate, two langs
        (None, "en", 1), (None, "de", 1),    # NULL url: a unique group, no fd key
        ("c", None, 1), ("c", "fr", 1),      # a value + NULL: two values
        ("d", None, 2),                      # only NULL: one value
        ("e", "en", None),                   # NULL in the second key column
    ], "url string, lang string, k2 long")
    nan = float("nan")
    doubles = spark.createDataFrame([
        ("z", 0.0), ("z", -0.0),             # equal values: one value
        ("n", nan), ("n", nan),              # only NaN: one value
        ("m", nan), ("m", 1.0),              # NaN and a number: two values
        ("u", None), ("u", None),            # only NULL: one value
        ("v", 2.0), ("v", None),             # a value + NULL: two values
    ], "url string, x double")

    def reference(frame, key, deps):
        dups = duplicate_keys(frame, key).agg(
            F.count(F.lit(1)).alias("k"),
            F.coalesce(F.sum("dup_count"), F.lit(0)).alias("r")).collect()[0]
        n_keys = frame.dropna(subset=key).select(*key).distinct().count()
        fds = []
        for dep in deps:
            bad = fd_violations(frame, key, dep).count()
            fds.append((f"fd({'+'.join(key)}->{dep})", bad == 0, bad,
                        round(bad / n_keys, 6)))
        return (f"unique({','.join(key)})", dups["k"] == 0, dups["k"], dups["r"]), fds

    for frame, key, deps, want in [
        (df, ["url"], ["lang", "k2"],
         (("unique(url)", False, 4, 8),
          [("fd(url->lang)", False, 2, 0.4), ("fd(url->k2)", False, 1, 0.2)])),
        (df, ["url", "k2"], ["lang"],
         (("unique(url,k2)", False, 3, 6),
          [("fd(url+k2->lang)", False, 1, 0.2)])),
        (doubles, ["url"], ["x"],
         (("unique(url)", False, 5, 10),
          [("fd(url->x)", False, 2, 0.4)])),
    ]:
        assert reference(frame, key, deps) == want
        row = key_verdicts(frame, key, deps).collect()[0]
        assert (tuple(row["unique"]), [tuple(f) for f in row["fd"]]) == want
        u = uniqueness_verdict(frame, key)
        assert u.columns == ["check", "pass", "n_violating_keys", "n_violating_rows"]
        assert tuple(u.collect()[0]) == want[0]
        for dep, fd_want in zip(deps, want[1]):
            v = fd_verdict(frame, key, dep)
            assert v.columns == ["check", "pass", "n_violations", "violating_key_frac"]
            assert tuple(v.collect()[0]) == fd_want


def _ungrouped_jobs(spark) -> set[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_dataset_block_job_budget(spark, webpages, tmp_path, count_jobs):
    """The benchmark's dataset block over parquet: the checks run as
    concurrent tasks over shared scans, every job under the caller's
    job group (28 jobs when the checks ran one after another, 19 while
    an fd check shuffled on (key, dependent) for count_distinct, 18
    while KS and chi2 were finished in Spark)."""
    from perfbench.corpora import DATASET_SPEC

    webpages.write.partitionBy("warc_day").parquet(str(tmp_path / "web"))
    df = spark.read.parquet(str(tmp_path / "web"))
    runner = ValidationRunner(spark, DATASET_SPEC, str(tmp_path / "res"), run_id="jb")
    dims = {"lang_dim": tb.lang_dim(spark)}
    before = _ungrouped_jobs(spark)
    n_jobs, rows = count_jobs(
        "dataset-block", lambda: runner.run_dataset_checks(df, dims=dims).collect())
    assert _ungrouped_jobs(spark) - before == set()
    assert [r["check"] for r in rows] == [
        "unique(url)", "ref(lang->lang_code)", "fd(url->lang)",
        "drift_chi2(lang by warc_day)", "drift_ks(char_length(text) by warc_day)",
        "drift_tdigest(char_length(text) by warc_day)", "dedup_exact(text)"]
    assert n_jobs <= 16


def test_dataset_block_raises_before_any_job(spark, webpages, tmp_path, count_jobs):
    """A missing dims table and an unknown quality signal raise before
    any check starts a job, even with checks ahead of them."""
    bad_signal = {"draft": "draft7", "columns": {}, "dataset": {
        "unique": ["url"],
        "quality": [{"column": "text", "id": "url", "signal": "vibes"}]}}
    for name, spec, dims, match in [
        ("missing-dim", FULL_SPEC, {}, "lang_dim"),
        ("bad-signal", bad_signal, None, "vibes"),
    ]:
        runner = ValidationRunner(spark, spec, str(tmp_path / name), run_id=name)

        def attempt():
            with pytest.raises(ValueError, match=match):
                runner.run_dataset_checks(webpages, dims=dims)

        before = _ungrouped_jobs(spark)
        n_jobs, _ = count_jobs(name, attempt)
        assert n_jobs == 0 and _ungrouped_jobs(spark) - before == set()


def test_dataset_block_incremental_entries_run_in_order(spark, webpages, tmp_path):
    """Two incremental entries on one ledger in one block (with a check
    between them) give the rows and the ledger of two calls in order."""
    from json_schema_spark.sources.icetable import IceTable

    def entry(led, snap):
        return {"column": "text", "id": "url", "method": "incremental",
                "ledger": led, "snapshot": snap, "max_dup_frac": 0.001}

    def spec(dedup):
        return {"draft": "draft7", "columns": {}, "dataset": {"dedup": dedup}}

    def run(name, dedup):
        runner = ValidationRunner(spark, spec(dedup), str(tmp_path / name), run_id=name)
        return [tuple(r) for r in runner.run_dataset_checks(webpages).collect()]

    one = str(tmp_path / "one")
    exact = {"column": "text", "id": "url", "method": "exact"}
    block = run("block", [entry(one, 0), exact, entry(one, 1)])

    two = str(tmp_path / "two")
    calls = run("call0", [entry(two, 0)]) + run("call1", [entry(two, 1)])
    assert [block[0], block[2]] == calls
    assert calls[1][2] > 0  # snapshot 1 saw snapshot 0's texts as history
    assert block[1][0] == "dedup_exact(text)"
    assert sorted(map(tuple, IceTable(spark, one).scan().collect())) == \
        sorted(map(tuple, IceTable(spark, two).scan().collect()))
