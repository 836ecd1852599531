"""Report renderer + spark-submit CLI entry point."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from json_schema_spark.errors import render_verdict_report

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_render_verdict_report():
    verdicts = [
        {"partition": "2024-03-01", "check": "url/pattern", "pass": False,
         "n_rows": 100, "n_violations": 3},
        {"partition": "2024-03-01", "check": "lang/enum", "pass": True,
         "n_rows": 100, "n_violations": 0},
    ]
    violations = [
        {"partition": "2024-03-01", "column": "url", "keyword": "pattern",
         "message": "'url' failed keyword pattern ('^https?://')",
         "url": "not a url %%"},
    ]
    out = render_verdict_report(verdicts, violation_rows=violations)
    assert "1 failing / 1 passing checks" in out
    assert "url/pattern" in out and "3 of 100" in out
    assert "Additionally:" in out  # reference nested style (README.rst:70-79)
    assert "not a url %%" in out


def test_cli_run_validation(spark, webpages, tmp_path):
    src = str(tmp_path / "pages")
    webpages.limit(1200).write.partitionBy("warc_day").mode("overwrite").parquet(src)
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps({
        "draft": "draft7",
        "columns": {"url": {"type": "string", "pattern": "^https?://"}},
        "required": ["url"],
    }))
    results = str(tmp_path / "results")
    cmd = [sys.executable, "bin/run_validation.py",
           "--input", src, "--spec", str(spec_path), "--results", results,
           "--run-id", "cli-test", "--master", "local[4]"]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    # planted malformed urls -> some check fails -> exit code 1
    assert proc.returncode == 1, proc.stderr[-2000:]
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    assert payload["run_id"] == "cli-test"
    assert payload["failed_checks"] >= 1
    # verdicts land in the snapshot table
    from json_schema_spark.sources.icetable import IceTable
    t = IceTable(spark, str(tmp_path / "results" / "verdicts_ice"))
    assert len(t.snapshots()) >= 1  # one overwrite commit per run
    assert t.scan().where("check = 'url/pattern'").count() >= 1
    # resume: immediate rerun has nothing pending -> exit 0
    proc2 = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    assert "nothing pending" in proc2.stdout


def test_cli_input_icetable_incremental(spark, webpages, tmp_path):
    """--input-icetable: first run validates everything, an immediate
    rerun is a no-op, and new appended files get validated next run."""
    from json_schema_spark.sources.icetable import IceTable

    src_root = str(tmp_path / "src_ice")
    src = IceTable.create(
        spark, src_root,
        ", ".join(f"{f.name} {f.dataType.simpleString()}"
                  for f in webpages.schema.fields),
        ["warc_day"])
    first = webpages.limit(1000)
    src.append(first)

    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps({
        "draft": "draft7",
        "columns": {"url": {"type": "string", "pattern": "^https?://"}},
        "required": ["url"],
    }))
    results = str(tmp_path / "res")
    cmd = [sys.executable, "bin/run_validation.py",
           "--input", src_root, "--spec", str(spec_path), "--results", results,
           "--run-id", "cli-inc", "--master", "local[4]", "--input-icetable"]
    p1 = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    assert p1.returncode == 1, p1.stderr[-2000:]  # planted violations
    out1 = json.loads(p1.stdout.strip().splitlines()[-1])
    assert len(out1["processed"]) > 0

    p2 = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    assert p2.returncode == 0, p2.stderr[-2000:]
    assert "nothing pending" in p2.stdout

    src.append(webpages.limit(1200).subtract(first))
    p3 = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    out3 = json.loads(p3.stdout.strip().splitlines()[-1])
    assert len(out3["processed"]) > 0


def test_cli_counts_empty_string_partition(spark, webpages, tmp_path):
    """An empty-string partition value is validated, and its verdict
    rows, which the results table stores under Hive's default-partition
    name, count in the CLI's summary."""
    src = str(tmp_path / "pages")
    day = F.col("warc_day")
    (webpages.limit(300)
     .withColumn("warc_day", F.when(day == F.lit(webpages.first()["warc_day"]), F.lit(""))
                 .otherwise(day.cast("string")))
     .write.parquet(src))  # warc_day stays a data column, "" included
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps({
        "draft": "draft7", "columns": {"url": {"type": "string"}}, "required": ["url"]}))
    cmd = [sys.executable, "bin/run_validation.py",
           "--input", src, "--spec", str(spec_path), "--results", str(tmp_path / "res"),
           "--run-id", "cli-empty", "--master", "local[2]"]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "" in payload["processed"]
    assert payload["checks"] == 2 * len(payload["processed"])
