"""Custom keyword registry — the engine twin of the reference's
def-validator extension surface (src/validators.lisp:645-654)."""

from __future__ import annotations

from pyspark.sql import functions as F

from json_schema_spark import compile_spec, verdict_df
from json_schema_spark.compiler import register_keyword, unregister_keyword


def test_register_custom_keyword(spark):
    def compile_even(val, schema, dt, draft, spec):
        if not val:
            return None
        return lambda c: F.pmod(c, F.lit(2)) == F.lit(0)

    register_keyword("x-even", compile_even)
    try:
        df = spark.range(10).select(F.col("id").alias("n"))
        compiled = compile_spec({"columns": {"n": {"x-even": True, "minimum": 0}}}, df)
        rows = {(r["column"], r["keyword"]): r for r in verdict_df(df, compiled).collect()}
        assert rows[("n", "x-even")]["n_violations"] == 5
        assert rows[("n", "minimum")]["n_violations"] == 0
    finally:
        unregister_keyword("x-even")

    # after unregistering, the keyword is unknown again -> skipped
    df = spark.range(4).select(F.col("id").alias("n"))
    compiled = compile_spec({"columns": {"n": {"x-even": True}}}, df)
    assert compiled.checks == ()
