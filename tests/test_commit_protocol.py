"""The commit protocol under failure: the runner's verdict commit is its
only checkpoint, and IceTable versions are published whole by an
exclusive link.

* A runner call that fails after its violations commit, inside its
  verdict commit before the link, or right after its verdict commit is
  resumed by calling again; the tables and the returned watermark then
  equal an uninterrupted run's.
* A crash between an IceTable temp write and its link leaves the table
  at the previous version, readable and writable.
* Nothing in a runner cycle, in IceTable maintenance, in the
  exactly-once sink or in a dedup-ledger commit renames a file onto an
  existing path (on ext4 each such rename costs a flush).
"""

from __future__ import annotations

import glob
import os

import pytest

from json_schema_spark.plans.runner import ValidationRunner
from json_schema_spark.sources.icetable import IceTable

DDL = "url string, host string, n int"
SPEC = {"columns": {"n": {"type": "integer", "minimum": 0}}}
# four host partitions; n == -1 is a violation
BASE = [(f"u{i}", f"h{i % 4}", i % 5 - 1) for i in range(40)]
LATE = [(f"u{i}", "h1", i % 3 - 1) for i in range(40, 46)]

CRASH_POINTS = ("after_violations_commit", "before_verdict_link",
                "after_verdict_commit")


class Crash(Exception):
    """A failure injected into a commit."""


def crash_verdict_commit(monkeypatch, point: str) -> None:
    """Make every runner's verdict commit fail at ``point`` until
    ``monkeypatch.undo()``."""
    def is_verdicts(root: str) -> bool:
        return os.path.basename(os.path.normpath(root)) == "verdicts_ice"

    if point == "before_verdict_link":
        link = os.link

        def failing_link(src, dst, *a, **k):
            if dst.endswith(".metadata.json") and is_verdicts(
                    os.path.dirname(os.path.dirname(dst))):
                raise Crash(point)
            return link(src, dst, *a, **k)

        monkeypatch.setattr(os, "link", failing_link)
        return
    overwrite = IceTable.overwrite_partitions

    def failing_overwrite(self, *a, **k):
        if is_verdicts(self.root) and point == "after_violations_commit":
            raise Crash(point)
        out = overwrite(self, *a, **k)
        if is_verdicts(self.root):
            raise Crash(point)
        return out

    monkeypatch.setattr(IceTable, "overwrite_partitions", failing_overwrite)


def _source(spark, root: str) -> IceTable:
    src = IceTable.create(spark, root, DDL, ["host"])
    src.append(spark.createDataFrame(BASE, DDL))
    return src


def _tables(r: ValidationRunner) -> tuple[list, list]:
    """The runner's current verdict rows (without wall time, and input
    files by count: each scenario has its own source) and violation
    rows."""
    verdicts = sorted(
        (x["partition"], x["check"], x["run_id"], x["pass"], x["n_rows"],
         x["n_violations"], sorted(x["metrics"].items()),
         len(x["input_files"]))
        for x in r.verdicts().collect())
    return verdicts, sorted(repr(x) for x in r.violations().collect())


def _calls(mode: str, src: IceTable, runner: ValidationRunner) -> list:
    """The calls of one scenario, in order; the last is the one that
    fails when a crash is injected."""
    if mode == "run":
        return [lambda: runner.run(src.scan(), partition_col="host")]
    if mode == "budgeted":
        return [lambda: runner.run_snapshot_increment(
            src, partition_col="host", max_partitions=2)]
    # unbudgeted: a first drain, then late rows, then the increment
    def late():
        runner.run_snapshot_increment(src, partition_col="host")
        src.append(src.spark.createDataFrame(LATE, DDL))
    return [late, lambda: runner.run_snapshot_increment(src, partition_col="host")]


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("mode", ["run", "budgeted", "unbudgeted"])
def test_runner_resumes_after_injected_failure(spark, tmp_path, monkeypatch,
                                               mode, point):
    """A failed call, called again, gives an uninterrupted run's verdict
    and violation rows and its watermark."""
    def scenario(name: str, crash: bool):
        src = _source(spark, str(tmp_path / name / "src"))
        r = ValidationRunner(spark, SPEC, str(tmp_path / name / "res"), run_id="f")
        *before, last = _calls(mode, src, r)
        for call in before:
            call()
        if crash:
            crash_verdict_commit(monkeypatch, point)
            with pytest.raises(Crash):
                last()
            monkeypatch.undo()
            # the resume: a new runner on the same results directory
            r = ValidationRunner(spark, SPEC, str(tmp_path / name / "res"),
                                 run_id="f")
            *_, last = _calls(mode, src, r)
        out = last()
        if mode != "run":  # drain what a budgeted call left
            out = r.run_snapshot_increment(src, partition_col="host")
        return out, _tables(r), src

    want_out, want_tables, _ = scenario("whole", crash=False)
    got_out, got_tables, src = scenario("crashed", crash=True)
    assert got_tables == want_tables
    assert len(want_tables[1]) > 0
    if mode != "run":
        assert got_out["snapshot"] == want_out["snapshot"] \
            == src.snapshots()[-1]["id"]


def test_budgeted_calls_record_progress_in_the_verdict_commit(spark, tmp_path):
    """A budgeted call keeps the watermark and records the partitions of
    its diff done so far in its verdict commit; the draining call
    records the new watermark; a diff that touches no partition
    advances it with one commit that adds no files."""
    src = _source(spark, str(tmp_path / "src"))
    r = ValidationRunner(spark, SPEC, str(tmp_path / "res"), run_id="p")
    out1 = r.run_snapshot_increment(src, partition_col="host", max_partitions=3)
    assert out1 == {"snapshot": None, "partitions": ["h0", "h1", "h2"]}
    assert r.completed() == {"h0", "h1", "h2"}
    summary = r._verdict_table.snapshots()[-1]["summary"]
    assert summary["runner_diff_done"] == ["h0", "h1", "h2"]

    out2 = r.run_snapshot_increment(src, partition_col="host", max_partitions=3)
    cur = src.snapshots()[-1]["id"]
    assert out2 == {"snapshot": cur, "partitions": ["h3"]}
    assert r._verdict_table.snapshots()[-1]["summary"]["runner_watermark"] == cur
    assert "runner_diff" not in r._verdict_table.snapshots()[-1]["summary"]

    files = r._verdict_table.plan_files()
    src.evolve_schema(DDL + ", note string")  # a commit that adds no file
    out3 = r.run_snapshot_increment(src, partition_col="host")
    assert out3 == {"snapshot": cur + 1, "partitions": []}
    assert r._verdict_table.plan_files() == files
    assert len(r._verdict_table.snapshots()) == 3
    assert r.run_snapshot_increment(src, partition_col="host")["partitions"] == []
    assert len(r._verdict_table.snapshots()) == 3


def test_crash_between_temp_write_and_link(spark, tmp_path, monkeypatch):
    """A writer killed after writing the next version's temp file leaves
    the table readable and writable at the version before; the orphan
    sweep then removes the temp file."""
    t = IceTable.create(spark, str(tmp_path / "t"), DDL, ["host"])
    t.append(spark.createDataFrame(BASE[:20], DDL))
    v = t._current_version()
    link, unlink = os.link, os.unlink

    def killed_link(src, dst, *a, **k):
        if dst.endswith(".metadata.json"):
            raise Crash("killed before the link")
        return link(src, dst, *a, **k)

    def killed_unlink(path, *a, **k):
        if ".metadata.json." in os.path.basename(path):
            raise Crash("killed before the temp file's removal")
        return unlink(path, *a, **k)

    monkeypatch.setattr(os, "link", killed_link)
    monkeypatch.setattr(os, "unlink", killed_unlink)
    with pytest.raises(Crash):
        t.append(spark.createDataFrame(BASE[20:], DDL))
    monkeypatch.undo()
    tmps = glob.glob(os.path.join(t._meta_dir, "*.tmp"))
    assert len(tmps) == 1 and not tmps[0].endswith(".metadata.json")

    reopened = IceTable(spark, t.root)
    assert reopened._current_version() == v
    assert reopened.scan().count() == 20
    reopened.append(spark.createDataFrame(BASE[20:], DDL))
    assert reopened._current_version() == v + 1
    assert reopened.scan().count() == 40

    res = reopened.remove_orphan_files(older_than_s=0.0)
    assert res["manifests"] >= 1
    assert glob.glob(os.path.join(t._meta_dir, "*.tmp")) == []
    assert reopened.scan().count() == 40


def test_stale_version_hint_is_ignored(spark, tmp_path):
    """A table whose ``version-hint.text`` an older writer left behind
    opens at its latest version, and commits leave the hint alone."""
    t = IceTable.create(spark, str(tmp_path / "t"), DDL, ["host"])
    t.append(spark.createDataFrame(BASE[:20], DDL))
    t.append(spark.createDataFrame(BASE[20:30], DDL))
    hint = os.path.join(t._meta_dir, "version-hint.text")
    with open(hint, "w") as f:
        f.write("1")

    reopened = IceTable(spark, t.root)
    assert reopened._current_version() == 2
    assert reopened.scan().count() == 30
    reopened.append(spark.createDataFrame(BASE[30:], DDL))
    assert reopened.scan().count() == 40
    with open(hint) as f:
        assert f.read() == "1"


def test_no_rename_onto_an_existing_path(spark, tmp_path, monkeypatch):
    """No commit path replaces an existing file by rename: a runner
    cycle, IceTable append / overwrite / evolution / compaction /
    expiry, an exactly-once sink commit and a dedup-ledger commit."""
    from json_schema_spark.operators.incremental_dedup import (
        create_dedup_ledger,
        incremental_dedup_snapshot,
    )
    from json_schema_spark.streaming.incremental import stream_to_icetable

    onto: list[str] = []
    for name in ("replace", "rename"):
        def guarded(src, dst, *a, _rename=getattr(os, name), **k):
            if os.path.lexists(dst):
                onto.append(os.fspath(dst))
            return _rename(src, dst, *a, **k)

        monkeypatch.setattr(os, name, guarded)

    src = _source(spark, str(tmp_path / "src"))
    ValidationRunner(spark, SPEC, str(tmp_path / "res_run"), run_id="g") \
        .run(src.scan(), partition_col="host")
    r = ValidationRunner(spark, SPEC, str(tmp_path / "res_inc"), run_id="g")
    r.run_snapshot_increment(src, partition_col="host", max_partitions=2)
    r.run_snapshot_increment(src, partition_col="host")
    src.append(spark.createDataFrame(LATE, DDL))
    assert r.run_snapshot_increment(src, partition_col="host")["partitions"] == ["h1"]

    src.overwrite_partitions(spark.createDataFrame(LATE, DDL))
    src.evolve_schema(DDL + ", note string")
    src.compact()
    src.expire_snapshots(keep_last=1)

    stream_src = str(tmp_path / "stream_src")
    spark.createDataFrame(BASE, DDL).coalesce(1).write.parquet(stream_src)
    sink = IceTable.create(spark, str(tmp_path / "sink"), DDL, [])
    stream_to_icetable(spark.readStream.schema(DDL).parquet(stream_src), sink,
                       str(tmp_path / "ckpt"))
    assert sink.scan().count() == len(BASE)

    ledger = create_dedup_ledger(spark, str(tmp_path / "ledger"), id_type="string")
    incremental_dedup_snapshot(spark.createDataFrame(BASE, DDL), ledger,
                               "url", "host", 0).collect()
    assert len(ledger.snapshots()) == 1

    assert onto == []


def test_spec_without_row_checks_completes_partitions(spark, tmp_path):
    """A spec with no per-row checks lands no verdict rows; its verdict
    commits still mark their partitions done, so budgeted calls move on
    and a finished run has nothing pending."""
    df = spark.createDataFrame(BASE, DDL)
    r = ValidationRunner(spark, {"columns": {}}, str(tmp_path / "res"), run_id="z")
    assert r.run(df, partition_col="host") == ["h0", "h1", "h2", "h3"]
    assert r.run(df, partition_col="host") == []

    r = ValidationRunner(spark, {"columns": {}}, str(tmp_path / "res2"), run_id="z")
    assert r.run(df, partition_col="host", max_partitions=3) == ["h0", "h1", "h2"]
    assert r.run(df, partition_col="host", max_partitions=3) == ["h3"]
    assert r.run(df, partition_col="host", max_partitions=3) == []
    assert r.completed() == {"h0", "h1", "h2", "h3"}
    assert r.verdicts().count() == 0


def test_empty_string_partition_resumes(spark, tmp_path):
    """Spark writes an empty-string partition value under the Hive
    default-partition name; a resumed run still counts it done, and ends
    with an uninterrupted run's rows."""
    df = spark.createDataFrame(BASE + [(f"e{i}", "", i - 1) for i in range(3)], DDL)
    whole = ValidationRunner(spark, SPEC, str(tmp_path / "whole"), run_id="e")
    assert whole.run(df, partition_col="host") == ["", "h0", "h1", "h2", "h3"]

    r = ValidationRunner(spark, SPEC, str(tmp_path / "res"), run_id="e")
    assert r.run(df, partition_col="host", max_partitions=2) == ["", "h0"]
    assert r.completed() == {"", "h0"}
    assert r.run(df, partition_col="host", max_partitions=2) == ["h1", "h2"]
    assert r.run(df, partition_col="host", max_partitions=2) == ["h3"]
    assert r.run(df, partition_col="host") == []
    assert _tables(r) == _tables(whole)
    # the results read back with the partition value the runner wrote
    assert {x["partition"] for x in r.verdicts().collect()} == {"", "h0", "h1", "h2", "h3"}
    assert "" in {x["partition"] for x in r.violations().collect()}
