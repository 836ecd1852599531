"""The typed and VARIANT compilers share one keyword table, so they
agree with each other and with the pure-Python oracle (pyvalidator)
on the cases where two separate tables used to drift apart: the draft3
``type: "any"``, exact numeric bounds past 2^53, ``propertyNames``
schemas beyond the plain string keywords, and the list form of
``required`` under draft3. Nested PCRE patterns, which the typed path
cannot run inside a Spark lambda, fail at compile time."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_spark.compiler import _schema_pred, compile_spec
from json_schema_spark.compiler_variant import compile_variant
from json_schema_spark.pyvalidator import Validator
from json_schema_spark.session import local_frame
from json_schema_spark.spec import ConstraintSpec, SpecError

_MAP = "map<string,bigint>"
_SHORT_KEYS = {"definitions": {"short": {"maxLength": 2}},
               "propertyNames": {"$ref": "#/definitions/short"}}

# (draft, schema, data, typed column DDL or None). Typed runs where the
# data fits a column; a bound literal beyond a long compiles to a
# decimal(38,0) literal there.
CASES = [
    pytest.param("draft7", {"type": "any"}, "a", "string", id="type-any"),
    pytest.param("draft7", {"maximum": 2**53}, 2**53 + 1, "bigint", id="maximum-2^53"),
    pytest.param("draft7", {"exclusiveMinimum": 2**53}, 2**53 + 1, "bigint",
                 id="exclusiveMinimum-2^53"),
    pytest.param("draft7", {"minimum": 2**53 + 1}, 2**53, "bigint", id="minimum-tie"),
    pytest.param("draft7", {"exclusiveMaximum": 2**53 + 1}, 2**53, "bigint",
                 id="exclusiveMaximum-tie"),
    pytest.param("draft4", {"minimum": 2**53, "exclusiveMinimum": True}, 2**53 + 1,
                 "bigint", id="draft4-exclusive-minimum-2^53"),
    pytest.param("draft7", {"minimum": 10**25 + 1}, 10**25, "decimal(38,0)",
                 id="minimum-bignum"),
    pytest.param("draft7", {"maximum": 10**25}, 10**25 + 1, "decimal(38,0)",
                 id="maximum-bignum"),
    pytest.param("draft7", {"exclusiveMinimum": 10**25 + 1}, 10**25 + 1, "decimal(38,0)",
                 id="exclusiveMinimum-bignum"),
    pytest.param("draft7", {"exclusiveMaximum": 10**25}, 10**25 - 1, "decimal(38,0)",
                 id="exclusiveMaximum-bignum"),
    pytest.param("draft7", _SHORT_KEYS, {"abc": 1}, _MAP, id="propertyNames-ref"),
    pytest.param("draft7", {"propertyNames": {"if": {"minLength": 2},
                                              "then": {"maxLength": 2}}},
                 {"abc": 1}, _MAP, id="propertyNames-if-then"),
    pytest.param("draft3", {"required": ["a"]}, {}, _MAP, id="draft3-required-list"),
]

# Count keywords with a bound at and beyond the largest Spark size or
# length (2^31 - 1): the compile folds a bound that decides alone, so no
# literal past a long reaches Spark.
_COUNT_DATA = [
    ("minLength", "abc", "string"), ("maxLength", "abc", "string"),
    ("minItems", [1, 2], "array<bigint>"), ("maxItems", [1, 2], "array<bigint>"),
    ("minProperties", {"a": 1}, _MAP), ("maxProperties", {"a": 1}, _MAP),
    ("minContains", [1, 2], "array<bigint>"), ("maxContains", [1, 2], "array<bigint>"),
]
CASES += [
    pytest.param("draft2019-09" if kw.endswith("Contains") else "draft7",
                 {kw: bound, **({"contains": {"type": "integer"}}
                                if kw.endswith("Contains") else {})},
                 data, ddl, id=f"{kw}-{label}")
    for kw, data, ddl in _COUNT_DATA
    for bound, label in ((2**31 - 1, "2^31-1"), (2**31, "2^31"), (2**63, "2^63"),
                         (2**70, "2^70"))
]


@pytest.mark.parametrize("draft,schema,data,ddl", CASES)
def test_typed_variant_and_oracle_agree(spark, draft, schema, data, ddl):
    want = Validator(schema, draft=draft).is_valid(data)
    spec = ConstraintSpec(dict(schema, draft=draft))
    cell = data if ddl else None
    df = local_frame(spark, [(json.dumps(data), cell)], f"j string, v {ddl or 'int'}")
    cols = [compile_variant(schema, draft, spec.registry)(
        F.try_parse_json(F.col("j"))).alias("variant")]
    if ddl is not None:
        dt = T._parse_datatype_string(ddl)
        cols.append(_schema_pred(schema, dt, draft, spec)(F.col("v")).alias("typed"))
    got = df.select(*cols).collect()[0].asDict()
    assert got == {k: want for k in got}


@pytest.mark.parametrize("schema", [
    {"items": {"pattern": "^[[:alpha:]]+$"}},
    {"contains": {"pattern": r"^\p{L}+$"}},
], ids=["items", "contains"])
def test_nested_pcre_pattern_fails_at_compile_time(spark, schema):
    """Spark cannot run the PCRE Arrow UDF inside a higher-order
    function's lambda: the compile names the column and the fallback
    instead of the first job failing."""
    df = local_frame(spark, [(["ab"],)], "tags array<string>")
    with pytest.raises(SpecError, match="'tags'.*validate_json_udf"):
        compile_spec({"columns": {"tags": schema}}, df)


def test_tuple_items_pcre_pattern_still_runs(spark):
    """Tuple-form items index elements directly (no lambda), so the
    PCRE UDF route stays open there."""
    df = local_frame(spark, [(["ab", "c1"],), (["x1"],)], "tags array<string>")
    compiled = compile_spec(
        {"columns": {"tags": {"items": [{"pattern": "^[[:alpha:]]+$"}]}}}, df)
    got = [r[0] for r in df.select(compiled.checks[0].predicate).collect()]
    assert got == [True, False]
