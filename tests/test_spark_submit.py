"""The literal north-rule deployment shape: spark-submit --py-files.

``bin/run_validation.py`` is exercised via ``python`` in
test_errors_cli.py; this test runs the REAL cluster submission command

    zip -r jss.zip json_schema_spark
    spark-submit --py-files jss.zip run_validation.py ...

with the driver script copied into a bare temp directory, so the
``json_schema_spark`` import can only be satisfied by the zip that
spark-submit ships — exactly what reaches executors on a cluster.
(run_validation.py's own sys.path fallback points at the script's
parent dir, which here contains no package.)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _build_pyfiles_zip(dest: str) -> str:
    """zip -r jss.zip json_schema_spark (sources only, no caches)."""
    pkg = os.path.join(REPO, "json_schema_spark")
    zpath = os.path.join(dest, "jss.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py") or f.endswith(".json"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not on this box")
def test_spark_submit_py_files_end_to_end(spark, webpages, tmp_path):
    src = str(tmp_path / "pages")
    webpages.limit(800).write.partitionBy("warc_day").mode("overwrite").parquet(src)
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps({
        "draft": "draft7",
        "columns": {"url": {"type": "string", "pattern": "^https?://"}},
        "required": ["url"],
    }))

    # bare submit dir: driver script + zip, NO package on any path
    submit_dir = tmp_path / "submit"
    submit_dir.mkdir()
    shutil.copy(os.path.join(REPO, "bin", "run_validation.py"), submit_dir)
    zpath = _build_pyfiles_zip(str(submit_dir))
    assert not (submit_dir / "json_schema_spark").exists()

    results = str(tmp_path / "results")
    cmd = [SPARK_SUBMIT, "--master", "local[2]",
           "--py-files", zpath,
           str(submit_dir / "run_validation.py"),
           "--input", src, "--spec", str(spec_path),
           "--results", results, "--run-id", "submit-test"]
    env = {**os.environ}
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    proc = subprocess.run(cmd, capture_output=True, text=True,
                          cwd=str(submit_dir), env=env, timeout=600)
    # the fixture plants malformed urls -> a check fails -> exit 1
    assert proc.returncode == 1, (proc.stdout[-1000:], proc.stderr[-2000:])
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    assert payload["run_id"] == "submit-test"
    assert payload["failed_checks"] >= 1
    # verdict rows landed where a cluster run would leave them
    from json_schema_spark.sources.icetable import IceTable
    verdicts = IceTable(spark, os.path.join(results, "verdicts_ice")).scan()
    assert verdicts.count() > 0
