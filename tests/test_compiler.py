"""Golden tests: compiled Column predicates on the synthetic webpage
table reproduce the planted violation counts exactly (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from json_schema_spark import compile_spec, verdict_df, violations_df
from json_schema_spark.sources import tables as tb

WEB_SPEC = {
    "$id": "https://example.com/webpage-constraints.json",
    "draft": "draft7",
    "columns": {
        "url": {"type": "string", "format": "uri", "pattern": "^https?://",
                "minLength": 12, "maxLength": 2048},
        "lang": {"enum": tb.ALLOWED_LANGS},
        "text": {"type": "string", "minLength": 1},
        "html": {"$ref": "#/$defs/nonEmptyBinary"},
    },
    "$defs": {"nonEmptyBinary": {"minLength": 1}},
    "required": ["url", "warc_ts", "text", "lang"],
}

N = 5000


def planted(mod: int) -> int:
    """ids in (0, N) with id % mod == 0 and id > 0."""
    return (N - 1) // mod


def test_verdicts_match_planted_defects(webpages):
    compiled = compile_spec(WEB_SPEC, webpages)
    rows = {(r["column"], r["keyword"]): r for r in verdict_df(webpages, compiled).collect()}

    assert rows[("url", "pattern")]["n_violations"] == planted(tb.BAD_URL_MOD)
    assert rows[("url", "format")]["n_violations"] == planted(tb.BAD_URL_MOD)
    assert rows[("url", "maxLength")]["n_violations"] == 0
    assert rows[("warc_ts", "required")]["n_violations"] == planted(tb.NULL_TS_MOD)
    assert rows[("text", "required")]["n_violations"] == planted(tb.NULL_TEXT_MOD)
    # empty text: id%101==0 minus overlap with NULL text (101*211 > N)
    assert rows[("text", "minLength")]["n_violations"] == planted(tb.EMPTY_TEXT_MOD)
    assert rows[("url", "required")]["n_violations"] == 0
    assert rows[("html", "minLength")]["n_violations"] == 0
    assert all(r["n_rows"] == N for r in rows.values())
    # pass iff zero violations ("valid iff errors nil")
    assert all((r["n_violations"] == 0) == r["pass"] for r in rows.values())


def test_violation_rows_accumulate_per_keyword(webpages):
    """Error accumulation: a malformed url fails BOTH pattern and
    format (src/validators.lisp:105-108 appending semantics)."""
    compiled = compile_spec(WEB_SPEC, webpages)
    v = violations_df(webpages, compiled, id_cols=["url"],
                      partition_col=F.col("warc_day"), run_id="r1")
    bad = v.where(F.col("url") == "not a url %%")
    kws = {r["keyword"] for r in bad.select("keyword").distinct().collect()}
    assert kws == {"pattern", "format"}
    assert v.columns == ["url", "partition", "keyword", "column", "path",
                         "message", "sub_errors", "run_id"]
    assert v.where(F.col("run_id") != "r1").count() == 0


def test_partition_verdict_zero_violations_means_pass(webpages):
    compiled = compile_spec(WEB_SPEC, webpages)
    v = violations_df(webpages, compiled, id_cols=["url"],
                      partition_col=F.col("warc_day"))
    per_part = v.groupBy("partition").count()
    # every day has planted defects at 5k rows
    assert per_part.count() == tb.N_DAYS


def test_enum_violations(webpages):
    compiled = compile_spec(WEB_SPEC, webpages)
    rows = {(r["column"], r["keyword"]): r for r in verdict_df(webpages, compiled).collect()}
    n_xx = webpages.where(F.col("lang") == "xx").count()
    assert n_xx > 0
    assert rows[("lang", "enum")]["n_violations"] == n_xx


def test_spec_errors():
    from json_schema_spark.spec import ConstraintSpec, SpecError

    with pytest.raises(SpecError):
        ConstraintSpec({"draft": "draft99"})
    with pytest.raises(SpecError):
        ConstraintSpec({"description": 42})  # src/validators.lisp:307-309


def test_unknown_column_raises(webpages):
    from json_schema_spark.spec import SpecError

    with pytest.raises(SpecError):
        compile_spec({"columns": {"nope": {"type": "string"}}}, webpages)


def test_text_byte_identity_through_engine(webpages):
    """Invariant (BASELINE.json input_hint): `text` is byte-identical
    per url through every stage — the engine only ever projects new
    columns. Hash text before and after a full validation pass."""
    compiled = compile_spec(WEB_SPEC, webpages)
    before = webpages.select(F.sum(F.crc32(F.encode(F.coalesce("text", F.lit("\x00")), "UTF-8"))).alias("h")).collect()[0]["h"]
    # run the pass, then rehash the same column off the SAME dataframe
    verdict_df(webpages, compiled).collect()
    after = webpages.select(F.sum(F.crc32(F.encode(F.coalesce("text", F.lit("\x00")), "UTF-8"))).alias("h")).collect()[0]["h"]
    assert before == after


def test_ref_sibling_keywords_not_dropped(spark):
    """ADVICE r1: {"$ref": ..., <siblings>} must enforce BOTH the ref
    target's keywords and the siblings (reference parity,
    src/validators.lisp:524-530: siblings not suppressed in draft<=7)."""
    df = spark.createDataFrame([(5,), (50,), (None,)], ["score"])
    spec = {
        "draft": "draft7",
        "columns": {"score": {"$ref": "#/$defs/pos", "maximum": 10}},
        "$defs": {"pos": {"minimum": 0}},
    }
    compiled = compile_spec(spec, df)
    kws = {(c.column, c.keyword) for c in compiled.checks}
    assert ("score", "minimum") in kws and ("score", "maximum") in kws
    viol = violations_df(df.withColumn("row_id", F.lit(1)), compiled,
                         id_cols=["score"])
    bad = {(r["keyword"]) for r in viol.collect()}
    assert "maximum" in bad  # 50 > 10 now caught on the Column path


def test_ref_duplicate_keyword_checks_resolve(spark):
    """Review r2: a $ref target sharing a keyword with a sibling emits
    TWO (column, keyword) checks; verdict_df must not hit an ambiguous
    column reference, and BOTH constraints must enforce."""
    from json_schema_spark import verdict_df

    df = spark.createDataFrame([(2,), (4,), (9,)], ["s"])
    spec = {
        "draft": "draft7",
        "columns": {"s": {"$ref": "#/$defs/base", "minimum": 3}},
        "$defs": {"base": {"minimum": 8}},
    }
    compiled = compile_spec(spec, df)
    rows = verdict_df(df, compiled).collect()
    kws = sorted((r["keyword"], r["n_violations"]) for r in rows)
    # target minimum 8 -> rows 2,4 violate; sibling minimum 3 -> row 2
    assert kws == [("minimum", 1), ("minimum", 2)]


def test_ref_to_false_schema_fails_every_present_value(spark):
    """A column whose $ref target is the false schema gets the same
    check as a column schema of false: every non-NULL row violates."""
    from json_schema_spark.session import local_frame

    df = local_frame(spark, [("a",), (None,), ("",)], "s string")
    spec = {"$defs": {"never": False},
            "columns": {"s": {"$ref": "#/$defs/never"}}}
    compiled = compile_spec(spec, df)
    assert compiled.check_names() == [("s", "false-schema")]
    assert compiled.check_names() == compile_spec(
        {"columns": {"s": False}}, df).check_names()
    viol = violations_df(df, compiled, id_cols=["s"]).collect()
    assert sorted((r["s"], r["keyword"]) for r in viol) == [
        ("", "false-schema"), ("a", "false-schema")]


def test_violations_with_no_checks_is_empty(spark):
    """A spec that compiles to no check has no violation rows, in the
    same schema as any other violation frame."""
    from json_schema_spark.session import local_frame

    df = local_frame(spark, [("a",)], "s string")
    none = violations_df(df, compile_spec({"columns": {"s": True}}, df), ["s"])
    some = violations_df(df, compile_spec({"columns": {"s": False}}, df), ["s"])
    assert none.collect() == []
    assert none.schema.simpleString() == some.schema.simpleString()


def test_typed_required_map_null_value_vs_struct_null_field(spark):
    """Typed NULL = absent has one exception: a map can tell a key that
    holds NULL from a missing key, a struct cannot tell a NULL field
    from an absent one. So `required` passes on the map {"a": null}
    and fails on the struct {a: null}."""
    from json_schema_spark.session import local_frame

    df = local_frame(spark, [({"a": None}, {"a": None})],
                     "m map<string,bigint>, s struct<a:bigint>")
    spec = {"columns": {"m": {"required": ["a"]}, "s": {"required": ["a"]}}}
    compiled = compile_spec(spec, df)
    got = df.select(*[c.predicate.alias(c.column) for c in compiled.checks]).first()
    assert got.asDict() == {"m": True, "s": False}


def test_multiple_of_decimal_column_fraction_exact(spark):
    """Review r2: multipleOf with a real divisor on a DECIMAL column
    must not round the fraction away (0.25 is NOT a multiple of 0.5)."""
    from decimal import Decimal
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(Decimal("0.25"),), (Decimal("2.70"),), (Decimal("1.00"),),
         (Decimal("12345678910111213141516171819"),)],
        T.StructType([T.StructField("amount", T.DecimalType(38, 2))]),
    )
    compiled = compile_spec(
        {"draft": "draft7", "columns": {"amount": {"multipleOf": 0.5}}}, df)
    from json_schema_spark import violations_df
    bad = {str(r["amount"]) for r in
           violations_df(df, compiled, id_cols=["amount"]).collect()}
    # any integer IS a multiple of 0.5 — the bignum must PASS
    assert bad == {"0.25", "2.70"}


def test_multiple_of_huge_divisor_compiles(spark):
    """Review r2: divisors beyond int64 (or with huge scale) must not
    crash compile_spec with a literal overflow."""
    from decimal import Decimal as _D
    df = spark.createDataFrame([(_D(10 ** 19),), (_D(7),)], "v decimal(38,0)")
    for divisor in (10 ** 19, 1e19, 1e-25):
        compiled = compile_spec(
            {"draft": "draft7", "columns": {"v": {"multipleOf": divisor}}}, df)
        from json_schema_spark import verdict_df
        verdict_df(df, compiled).collect()  # must run, not raise


def test_pcre_fallback_patterns_route_to_arrow_udf(spark):
    """VERDICT r2 item 4: PCRE-only patterns (\\p{L} property classes,
    possessive quantifiers, POSIX [[:alpha:]]) must evaluate with
    cl-ppcre semantics through the Arrow UDF — NOT be waved through to
    rlike. [[:alpha:]] is the smoking gun: Java regex silently parses
    it as a literal character class, so rlike alone mismatches."""
    df = spark.createDataFrame(
        [("héllo",), ("123",), ("abc",), (":[", ), (None,)],
        "s string")
    spec = {"draft": "draft7", "columns": {
        "s": {"pattern": r"^[[:alpha:]]+$"}}}
    compiled = compile_spec(spec, df)
    ok = {r["s"]: None for r in df.where(
        compiled.checks[0].predicate).collect()}
    # PCRE: héllo and abc are all-alpha; '123' and ':[' are not;
    # NULL passes vacuously (absent)
    assert set(ok) == {"héllo", "abc", None}
    # rlike alone WOULD have mismatched: Java parses [[:alpha:]] as a
    # nested literal character class (no POSIX support), so its accept
    # set differs from PCRE's on these rows
    java = {r["s"] for r in df.where(
        F.col("s").rlike(r"^[[:alpha:]]+$")).collect()}
    assert java != {s for s in ok if s is not None}
    assert "abc" not in java  # PCRE accepts 'abc'; Java does not

    # \p{L} + possessive quantifier: route + correct semantics
    spec2 = {"draft": "draft7", "columns": {"s": {"pattern": r"^\p{L}++$"}}}
    compiled2 = compile_spec(spec2, df)
    ok2 = {r["s"] for r in df.where(
        compiled2.checks[0].predicate & F.col("s").isNotNull()).collect()}
    assert ok2 == {"héllo", "abc"}


def test_pcre_fallback_dynamic_json_path(spark):
    """The pyvalidator (dynamic JSON) twin must agree on PCRE-only
    patterns — including inside patternProperties keys."""
    from json_schema_spark.pyvalidator import Validator

    v = Validator({"pattern": r"^\p{L}++$"}, draft="draft7")
    assert v.validate("héllo")[0] is True
    assert v.validate("123")[0] is False
    vp = Validator({"patternProperties": {r"^[[:alpha:]]+$": {"type": "integer"}}},
                   draft="draft7")
    assert vp.validate({"abc": 1})[0] is True
    assert vp.validate({"abc": "nope"})[0] is False
    assert vp.validate({":[": "ignored-key-no-match"})[0] is True


def test_bad_pcre_pattern_fails_at_compile_time(spark):
    """A genuinely invalid pattern must raise on the DRIVER at
    compile_spec time, never inside an executor task."""
    df = spark.createDataFrame([("x",)], "s string")
    with pytest.raises(Exception):
        compile_spec({"draft": "draft7",
                      "columns": {"s": {"pattern": r"(?P<broken"}}}, df)


@pytest.mark.parametrize("partition_col", [None, "p"])
def test_verdict_of_spec_without_checks_is_empty(spark, partition_col):
    """An off-type keyword compiles to no check; the verdict frame is
    then empty but keeps the verdict schema, with or without
    partitions (the unpivot array is typed even when empty)."""
    df = spark.createDataFrame([("a", "x"), ("b", "y")], "t string, p string")
    compiled = compile_spec({"columns": {"t": {"minItems": 3}}}, df)
    assert compiled.checks == ()
    got = verdict_df(df, compiled, partition_col)
    assert got.collect() == []
    with_check = compile_spec({"columns": {"t": {"minLength": 3}}}, df)
    want = verdict_df(df, with_check, partition_col).schema
    assert got.schema.simpleString() == want.simpleString()
