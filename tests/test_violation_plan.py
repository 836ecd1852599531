"""Plan shape of the violation pass: every keyword predicate runs in a
projection of failure flags, never inside a higher-order function's
lambda, so the typed Generate joins a whole-stage-codegen stage; and
ValidationRunner caches only the id columns and those flags."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from json_schema_spark import compile_spec, violations_df
from json_schema_spark.compiler_variant import variant_violations_df
from json_schema_spark.plans.runner import ValidationRunner
from json_schema_spark.session import local_frame
from json_schema_spark.sources.icetable import IceTable
from tests.test_compiler import WEB_SPEC

# ArrayFilter prints as filter(...); map_filter(...) is another function
_ARRAY_FILTER = re.compile(r"(?<![\w])filter\(")


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_typed_violations_generate_is_codegen(webpages):
    v = violations_df(webpages, compile_spec(WEB_SPEC, webpages), id_cols=["url"])
    plan = _executed_plan(v)
    assert not _ARRAY_FILTER.search(plan), plan
    assert re.search(r"\*\(\d+\) Generate explode\(array\(", plan), plan


def test_variant_violations_plan_has_no_array_filter(spark):
    schema = {"type": "object",
              "properties": {"a": {"type": "integer", "minimum": 0},
                             "b": {"type": "string", "maxLength": 3}},
              "additionalProperties": False}
    docs = ['{"a": 1, "b": "x"}', '{"a": -1, "c": 2}', '{"b": "long"}', "[", None]
    df = local_frame(spark, list(enumerate(docs)), "id bigint, doc string")
    v = variant_violations_df(df, "doc", schema, id_cols=["id"])
    plan = _executed_plan(v)
    assert not _ARRAY_FILTER.search(plan), plan
    got = sorted((r["id"], r["keyword"]) for r in v.collect())
    assert got == [(1, "additionalProperties"), (1, "properties"),
                   (2, "properties"), (3, "(parse)")]


def test_runner_caches_ids_and_flags_only(spark, webpages, tmp_path, monkeypatch):
    """The cached relation under the violations write holds the id
    columns, the partition and one flag per check: html and text, the
    wide columns, are read once and never cached."""
    plans = []
    write = IceTable.overwrite_partitions

    def spy(self, df, *args, **kwargs):
        # the verdict rows are a driver-side pyarrow.Table, with no plan
        if self.root.endswith("violations_ice"):
            plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(IceTable, "overwrite_partitions", spy)
    r = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res"), run_id="c")
    assert r.run(webpages.where(F.col("warc_day").isNotNull()), max_partitions=2)
    # the outermost InMemoryRelation (the fixture itself is cached too)
    top = re.search(r"InMemoryRelation \[([^\]]*)\]", plans[0])
    assert top, plans[0]
    names = {re.sub(r"#\d+L?$", "", a.strip()) for a in top.group(1).split(",")}
    assert {"url", "partition"} <= names, names
    assert not names & {"html", "text"}, names
