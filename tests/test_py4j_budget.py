"""Compile once, validate many (src/reference.lisp:103-119): a compiled
spec keeps the Spark expressions derived from its checks, and
``compile_spec`` and the VARIANT wrappers keep the specs they compile,
so a repeated verdict or violation call, or a new runner's first call,
builds a few dozen py4j round trips' worth of Columns, not thousands.
The budgets below are the counts measured for these specs; a change
that rebuilds the derived Columns per call exceeds them several times
over.

The kept Columns must never outlive what they were built for: a new
check list, a registry that gained a document, a frame of another
schema, a keyword (un)registration, another Spark context, a schema
that failed to compile."""

from __future__ import annotations

import dataclasses
import sys
import threading

import pytest
from pyspark.sql import functions as F

from json_schema_spark import compile_spec, verdict_df, violations_df
from json_schema_spark import compiler as memo
from json_schema_spark import compiler_variant as cv
from json_schema_spark.compiler_variant import (
    VariantUnsupported,
    variant_compiled_spec,
    variant_verdict_df,
    variant_violations_df,
)
from json_schema_spark.plans.runner import ValidationRunner
from json_schema_spark.session import local_frame
from json_schema_spark.sources.tables import synth_webpages
from json_schema_spark.spec import ConstraintSpec, SpecRegistry

# the shapes of the benchmark's typed and JSON specs: 13 and 5 checks
WEB_SPEC = {
    "draft": "draft7",
    "columns": {
        "url": {"type": "string", "format": "uri", "pattern": "^https?://",
                "minLength": 12, "maxLength": 2048},
        "lang": {"enum": ["en", "de", "fr", "es", "zh", "ja"]},
        "text": {"type": "string", "minLength": 1},
        "html": {"minLength": 1},
    },
    "required": ["url", "warc_ts", "text", "lang"],
}
JSON_SCHEMA = {
    "type": "object",
    "required": ["url", "lang", "score"],
    "properties": {
        "url": {"type": "string", "pattern": "^https://",
                "minLength": 10, "maxLength": 200},
        "lang": {"enum": ["en", "de", "fr", "es"]},
        "score": {"type": "number", "minimum": 0, "maximum": 1},
        "tags": {"type": "array", "maxItems": 8,
                 "items": {"type": "string", "minLength": 1}},
        "meta": {"type": "object", "required": ["views"],
                 "properties": {"views": {"type": "integer", "minimum": 0}}},
    },
    "additionalProperties": False,
}

# py4j round trips of a repeated call on this test's frames, on every
# thread, as measured; the code before the derived Columns were kept
# made 1,546, 1,668, 3,987, 4,053 and 2,376. A runner's call is also
# the budget of a new runner's first call, which made 3,192 before
# compile_spec kept its specs.
BUDGET = {
    "verdict_df": 40,
    "violations_df": 81,
    "variant_verdict_df": 49,
    "variant_violations_df": 90,
    "runner_validate": 279,
}


@pytest.fixture(scope="module")
def web(spark):
    return synth_webpages(spark, 200, seed=3, partitions=2)


@pytest.fixture(scope="module")
def docs(spark):
    return local_frame(spark, [
        (1, '{"url": "https://example.com/a", "lang": "en", "score": 0.5}'),
        (2, '{"url": "http://x", "lang": "xx", "score": 2, "extra": 1}'),
        (3, "not json"),
    ], "doc_id bigint, doc string")


def _calls(web, docs, compiled):
    return {
        "verdict_df": lambda: verdict_df(web, compiled),
        "violations_df": lambda: violations_df(web, compiled, id_cols=["url"]),
        "variant_verdict_df": lambda: variant_verdict_df(docs, "doc", JSON_SCHEMA),
        "variant_violations_df": lambda: variant_violations_df(
            docs, "doc", JSON_SCHEMA, id_cols=["doc_id"]),
    }


def test_repeated_calls_stay_within_budget(web, docs, count_py4j):
    compiled = compile_spec(WEB_SPEC, web)
    assert len(compiled.checks) == 13
    for name, call in _calls(web, docs, compiled).items():
        first, _ = count_py4j(call)
        n, out = count_py4j(call)
        assert n <= BUDGET[name], (name, n)
        assert n < first, (name, first, n)
        out.collect()


def test_second_runner_pass_stays_within_budget(spark, web, tmp_path, count_py4j):
    runner = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res"))
    days = sorted(r[0] for r in web.select(F.col("warc_day").cast("string"))
                  .distinct().collect())
    slice_df = web.where(F.col("warc_day").cast("string").isin(days))
    runner._validate(slice_df, "warc_day", days)
    before = sorted(map(tuple, runner.verdicts().drop("wall_ms").collect()))
    n, _ = count_py4j(runner._validate, slice_df, "warc_day", days)
    assert n <= BUDGET["runner_validate"], n
    assert sorted(map(tuple, runner.verdicts().drop("wall_ms").collect())) == before


def test_new_runner_of_the_same_spec_stays_within_budget(spark, web, tmp_path,
                                                          count_py4j):
    """Each cycle of a caller may build a new runner: its first call
    finds the spec compiled by an earlier runner of the same spec over
    the same schema, and builds none of its Columns again."""
    days = sorted(r[0] for r in web.select(F.col("warc_day").cast("string"))
                  .distinct().collect())
    slice_df = web.where(F.col("warc_day").cast("string").isin(days))
    first = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "first"))
    first._validate(slice_df, "warc_day", days)
    runner = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "second"))
    n, _ = count_py4j(runner._validate, slice_df, "warc_day", days)
    assert runner.compiled is first.compiled
    assert n <= BUDGET["runner_validate"], n
    assert sorted(map(tuple, runner.verdicts().drop("wall_ms").collect())) \
        == sorted(map(tuple, first.verdicts().drop("wall_ms").collect()))


def test_typed_spec_is_compiled_again_for_another_schema(spark):
    spec = {"columns": {"n": {"minimum": 0}}}
    ints = local_frame(spark, [(-1,), (2,)], "n int")
    strings = local_frame(spark, [("-1",), ("2",)], "n string")
    compiled = compile_spec(spec, ints)
    assert compile_spec(spec, local_frame(spark, [(5,)], "n int")) is compiled
    assert compile_spec(ConstraintSpec(spec), ints) is not compiled
    # minimum is off-type on a string column: no check there
    assert compile_spec(spec, strings).check_names() == []
    assert compiled.check_names() == [("n", "minimum")]
    assert [r["n_violations"] for r in verdict_df(ints, compiled).collect()] == [1]


def test_typed_spec_is_compiled_again_after_a_keyword_registration(spark):
    from json_schema_spark.compiler import register_keyword, unregister_keyword

    spec = {"columns": {"n": {"x-odd": True}}}
    df = local_frame(spark, [(1,), (2,), (4,)], "n int")
    assert compile_spec(spec, df).checks == ()
    register_keyword("x-odd", lambda val, schema, dt, draft, s:
                     lambda c: F.pmod(c, F.lit(2)) == F.lit(1))
    try:
        compiled = compile_spec(spec, df)
        assert compiled.check_names() == [("n", "x-odd")]
        assert [r["n_violations"] for r in verdict_df(df, compiled).collect()] == [2]
    finally:
        unregister_keyword("x-odd")
    assert compile_spec(spec, df).checks == ()


def test_replaced_checks_get_their_own_columns(web):
    compiled = compile_spec(WEB_SPEC, web)
    full = {(r["column"], r["keyword"]) for r in verdict_df(web, compiled).collect()}
    with pytest.raises(dataclasses.FrozenInstanceError):
        compiled.checks = compiled.checks[:1]
    kept = dataclasses.replace(compiled, checks=[c for c in compiled.checks
                                                 if c.column == "text"])
    assert isinstance(kept.checks, tuple)
    assert kept.verdict_parts is not compiled.verdict_parts
    got = {(r["column"], r["keyword"]) for r in verdict_df(web, kept).collect()}
    assert got == {("text", "type"), ("text", "minLength"), ("text", "required")}
    assert {r["column"] for r in violations_df(web, kept, ["url"]).collect()} <= {"text"}
    # the original spec still derives its Columns from all its checks
    assert {(r["column"], r["keyword"])
            for r in verdict_df(web, compiled).collect()} == full


def test_returned_spec_cannot_be_changed(spark):
    compiled = variant_compiled_spec("doc", JSON_SCHEMA)
    assert variant_compiled_spec("doc", JSON_SCHEMA) is compiled
    with pytest.raises(dataclasses.FrozenInstanceError):
        compiled.checks[0].predicate = F.lit(True)
    with pytest.raises(AttributeError):
        compiled.checks.append(compiled.checks[0])


def test_equal_json_is_the_same_spec_and_other_arguments_are_not(spark):
    compiled = variant_compiled_spec("doc", JSON_SCHEMA)
    reordered = dict(reversed(list(JSON_SCHEMA.items())))
    assert variant_compiled_spec("doc", reordered) is compiled
    assert variant_compiled_spec("doc", JSON_SCHEMA, malformed_valid=True) is not compiled
    assert variant_compiled_spec("doc", JSON_SCHEMA, draft="draft4") is not compiled
    assert variant_compiled_spec("body", JSON_SCHEMA) is not compiled
    assert variant_compiled_spec("doc", {**JSON_SCHEMA, "maxProperties": 1.0}) \
        is not variant_compiled_spec("doc", {**JSON_SCHEMA, "maxProperties": 1})


def test_registry_document_added_after_compile(spark, docs):
    """A registry is mutable: a document added after a compile makes
    the next call compile again, against the new document."""
    schema = {"$ref": "limits.json#/defs/score"}

    def bad_docs(registry):
        rows = variant_verdict_df(docs.where("doc_id < 3"), "doc", schema,
                                  registry=registry).collect()
        return {r["keyword"]: r["n_violations"] for r in rows}

    registry = SpecRegistry(root=schema)
    registry.add_document("limits.json", {"defs": {"score": {"required": ["url"]}}})
    first = variant_compiled_spec("doc", schema, registry=registry)
    assert variant_compiled_spec("doc", schema, registry=registry) is first
    assert bad_docs(registry) == {"(parse)": 0, "$ref": 0}

    registry.add_document("limits.json", {"defs": {"score": {"required": ["tags"]}}})
    assert variant_compiled_spec("doc", schema, registry=registry) is not first
    assert bad_docs(registry) == {"(parse)": 0, "$ref": 2}
    # another registry holding the same documents is another key
    other = SpecRegistry(root=schema)
    other.add_document("limits.json", {"defs": {"score": {"required": ["tags"]}}})
    assert variant_compiled_spec("doc", schema, registry=other) \
        is not variant_compiled_spec("doc", schema, registry=registry)


def test_another_spark_context_compiles_again(spark, monkeypatch):
    """Columns belong to the context (and JVM) that built them: under
    another one the memo starts empty. A JVM restart is faked by
    swapping the scope object, not performed."""
    compiled = variant_compiled_spec("doc", JSON_SCHEMA)
    scopes = len(memo._memo)

    class OtherContext:
        pass

    other = OtherContext()
    monkeypatch.setattr(memo, "_jvm_scope", lambda: other)
    in_other = variant_compiled_spec("doc", JSON_SCHEMA)
    assert in_other is not compiled
    assert variant_compiled_spec("doc", JSON_SCHEMA) is in_other
    assert len(memo._memo) == scopes + 1
    monkeypatch.undo()
    assert variant_compiled_spec("doc", JSON_SCHEMA) is compiled
    # the memo holds its scope weakly: a dropped context drops its specs
    del other
    assert len(memo._memo) == scopes


def test_raising_compile_is_not_cached(spark, monkeypatch):
    builds = []
    build = cv._variant_compiled_spec
    monkeypatch.setattr(cv, "_variant_compiled_spec",
                        lambda *a: builds.append(a) or build(*a))
    schema = {"pattern": "^[[:alpha:]]+$"}  # POSIX class: no JVM translation
    for _ in range(2):
        with pytest.raises(VariantUnsupported):
            variant_compiled_spec("doc", schema)
    assert len(builds) == 2


def test_memo_is_bounded(spark):
    size = memo._MEMO_SIZE
    specs = [variant_compiled_spec("doc", {"maxLength": n}) for n in range(size)]
    assert len(memo._memo[memo._jvm_scope()]) == size
    # the least recently used spec goes first
    assert variant_compiled_spec("doc", {"maxLength": 0}) is specs[0]
    variant_compiled_spec("doc", {"maxLength": size})
    assert len(memo._memo[memo._jvm_scope()]) == size
    assert variant_compiled_spec("doc", {"maxLength": 0}) is specs[0]
    assert variant_compiled_spec("doc", {"maxLength": 1}) is not specs[1]


def test_memo_under_concurrent_callers(spark):
    """More threads than cores compile and evict concurrently: every
    caller gets the spec of its own schema and the memo stays bounded."""
    size = memo._MEMO_SIZE
    errors = []

    def work(t):
        try:
            for n in range(4 * size):
                bound = (7 * n + t) % (size + 2)
                got = variant_compiled_spec("doc", {"maxLength": bound})
                assert got.checks[1].message.endswith(f"({bound})")
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(memo._memo[memo._jvm_scope()]) == size


def test_typed_spec_derives_columns_once(web):
    compiled = compile_spec(ConstraintSpec(WEB_SPEC), web)
    assert compiled.verdict_parts is compiled.verdict_parts
    assert compiled.failure_flags is compiled.failure_flags
