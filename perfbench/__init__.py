"""Benchmark of the json_schema_spark engine (see README.md)."""
