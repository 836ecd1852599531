"""Compile once, validate many (src/reference.lisp:103-119): a compiled
spec keeps the Spark expressions derived from its checks, and the
VARIANT wrappers keep the spec they compile, so a repeated verdict or
violation call builds a few dozen py4j round trips' worth of Columns,
not thousands. The budgets below are the counts measured for these
specs; a change that rebuilds the derived Columns per call exceeds
them several times over.

The kept Columns must never outlive what they were built for: a new
check list, a registry that gained a document, another Spark context,
a schema that failed to compile."""

from __future__ import annotations

import dataclasses
import sys
import threading

import pytest
from pyspark.sql import functions as F

from json_schema_spark import compile_spec, verdict_df, violations_df
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

# py4j round trips of a repeated call on this test's frames, as
# measured; the code before the derived Columns were kept made 1,546,
# 1,668, 3,987, 4,053 and 2,376
BUDGET = {
    "verdict_df": 40,
    "violations_df": 81,
    "variant_verdict_df": 49,
    "variant_violations_df": 90,
    "runner_validate": 282,
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
    scopes = len(cv._memo)

    class OtherContext:
        pass

    other = OtherContext()
    monkeypatch.setattr(cv, "_jvm_scope", lambda: other)
    in_other = variant_compiled_spec("doc", JSON_SCHEMA)
    assert in_other is not compiled
    assert variant_compiled_spec("doc", JSON_SCHEMA) is in_other
    assert len(cv._memo) == scopes + 1
    monkeypatch.undo()
    assert variant_compiled_spec("doc", JSON_SCHEMA) is compiled
    # the memo holds its scope weakly: a dropped context drops its specs
    del other
    assert len(cv._memo) == scopes


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
    size = cv._MEMO_SIZE
    specs = [variant_compiled_spec("doc", {"maxLength": n}) for n in range(size)]
    assert len(cv._memo[cv._jvm_scope()]) == size
    # the least recently used spec goes first
    assert variant_compiled_spec("doc", {"maxLength": 0}) is specs[0]
    variant_compiled_spec("doc", {"maxLength": size})
    assert len(cv._memo[cv._jvm_scope()]) == size
    assert variant_compiled_spec("doc", {"maxLength": 0}) is specs[0]
    assert variant_compiled_spec("doc", {"maxLength": 1}) is not specs[1]


def test_memo_under_concurrent_callers(spark):
    """More threads than cores compile and evict concurrently: every
    caller gets the spec of its own schema and the memo stays bounded."""
    size = cv._MEMO_SIZE
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
    assert len(cv._memo[cv._jvm_scope()]) == size


def test_typed_spec_derives_columns_once(web):
    compiled = compile_spec(ConstraintSpec(WEB_SPEC), web)
    assert compiled.verdict_parts is compiled.verdict_parts
    assert compiled.failure_flags is compiled.failure_flags
