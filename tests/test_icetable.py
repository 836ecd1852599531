"""IceTable (Iceberg-style snapshot table seam) contract tests:
atomic optimistic commits, snapshot isolation / time travel, dynamic
partition overwrite, and manifest-level stats pruning."""

import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from json_schema_spark.sources.icetable import CommitConflict, IceTable


@pytest.fixture()
def docs(spark):
    return spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u-"), F.col("id")).alias("url"),
        F.when(F.col("id") % 3 == 0, "en")
         .when(F.col("id") % 3 == 1, "de").otherwise("fr").alias("lang"),
    )


SCHEMA = "doc_id long, url string, lang string"


def _racer_commits_first(t, commit) -> None:
    """Make ``commit(other)``, on a second handle of ``t``'s table, claim
    the next version while ``t``'s next write stages its files — after
    that write has read its parent version."""
    stage = t._stage

    def racing_stage(*args, **kwargs):
        t._stage = stage  # once
        commit(IceTable(t.spark, t.root))
        return stage(*args, **kwargs)

    t._stage = racing_stage


def test_append_scan_roundtrip(spark, tmp_path, docs):
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    t.append(docs)
    got = t.scan().select("doc_id", "url", "lang")
    assert sorted(got.collect()) == sorted(docs.collect())


def test_snapshot_isolation_and_time_travel(spark, tmp_path, docs):
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    s1 = t.append(docs.where("doc_id < 50"))
    s2 = t.append(docs.where("doc_id >= 50"))
    assert t.scan().count() == 100
    # a reader pinned to s1 is unaffected by the later commit
    assert t.scan(snapshot_id=s1).count() == 50
    snaps = t.snapshots()
    assert [s["id"] for s in snaps] == [s1, s2]
    assert snaps[1]["parent_id"] == s1
    assert snaps[0]["operation"] == "append"


def test_partition_pruning(spark, tmp_path, docs):
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    t.append(docs)
    all_files = t.plan_files()
    en_files = t.plan_files([("lang", "=", "en")])
    assert 0 < len(en_files) < len(all_files)
    assert all(e["partition"]["lang"] == "en" for e in en_files)
    got = t.scan([("lang", "=", "en")])
    assert got.count() == 34 and got.select("lang").distinct().collect()[0][0] == "en"


def test_minmax_stats_pruning(spark, tmp_path):
    # range-partition so each file holds a disjoint doc_id range — the
    # footer min/max then prunes most files for a point/range predicate
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u-"), F.col("id")).alias("url"),
        F.lit("en").alias("lang"),
    ).repartitionByRange(8, "doc_id")
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, [])
    t.append(df)
    assert len(t.plan_files()) == 8
    pruned = t.plan_files([("doc_id", ">=", 900)])
    assert len(pruned) < 8
    assert t.scan([("doc_id", ">=", 900)]).count() == 100
    # string stats prune too
    upruned = t.plan_files([("url", "=", "u-5")])
    assert len(upruned) < 8


def test_scan_filters_equal_post_filter(spark, tmp_path, docs):
    """Pruning is a pure optimization: scan(filters) == scan().filter."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    t.append(docs)
    a = sorted(t.scan([("doc_id", "<", 10), ("lang", "in", ["en", "de"])])
               .select("doc_id").toPandas()["doc_id"].tolist())
    b = sorted(t.scan().where((F.col("doc_id") < 10)
                              & F.col("lang").isin("en", "de"))
               .select("doc_id").toPandas()["doc_id"].tolist())
    assert a == b and len(a) > 0


def test_overwrite_partitions_idempotent_redo(spark, tmp_path, docs):
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    t.append(docs)
    fixed = docs.where("lang = 'en'").withColumn("url", F.lit("fixed"))
    t.overwrite_partitions(fixed)
    t.overwrite_partitions(fixed)  # redo of the same partition: no dupes
    got = t.scan()
    assert got.count() == 100
    assert got.where("lang = 'en'").select("url").distinct().collect()[0][0] == "fixed"
    assert got.where("lang = 'de' and url like 'u-%'").count() == 33
    assert t.snapshots()[-1]["operation"] == "overwrite"


def test_overwrite_partitions_drops_named_partition_without_rows(spark, tmp_path, docs):
    """A partition named in the overwrite set but absent from ``df`` is
    dropped (a redo can empty a partition); unnamed partitions keep
    their files."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    t.append(docs)
    fr_files = {e["path"] for e in t.plan_files() if e["partition"]["lang"] == "fr"}
    t.overwrite_partitions(docs.where("lang = 'en'"), ["en", "de"])
    files = t.plan_files()
    assert {e["partition"]["lang"] for e in files} == {"en", "fr"}
    assert {e["path"] for e in files if e["partition"]["lang"] == "fr"} == fr_files
    got = t.scan()
    assert got.count() == 67 and got.where("lang = 'de'").count() == 0
    assert t.snapshots()[-1]["summary"]["replaced_partitions"] == 2
    t2 = IceTable.create(spark, str(tmp_path / "t2"), SCHEMA, ["lang", "url"])
    with pytest.raises(ValueError, match="one partition column"):
        t2.overwrite_partitions(docs, ["en"])


def test_commit_conflict_one_winner(spark, tmp_path, docs):
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, [])
    t.append(docs.where("doc_id < 10"))
    # a racing writer claims the next version (a commit of no rows)
    _racer_commits_first(t, lambda other: other.evolve_schema(SCHEMA))
    with pytest.raises(CommitConflict):
        t.append(docs.where("doc_id >= 10"))
    # loser retries on the new parent and wins cleanly
    t.append(docs.where("doc_id >= 10"))
    assert t.scan().count() == 100


def test_runner_verdicts_through_icetable(spark, webpages, tmp_path, monkeypatch):
    """Resume with IceTable results: the snapshot log is the lineage
    history, a redone partition is REPLACED (overwrite) not duplicated,
    and final verdicts and violations equal an uninterrupted run's."""
    from json_schema_spark.plans.runner import ValidationRunner
    from json_schema_spark.sources import tables as tb
    from tests.test_commit_protocol import Crash, crash_verdict_commit
    from tests.test_compiler import WEB_SPEC

    pages = str(tmp_path / "pages")
    webpages.write.partitionBy("warc_day").mode("overwrite").parquet(pages)
    df = spark.read.parquet(pages)

    r1 = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "ice"), run_id="r1")
    r1.run(df, max_partitions=2)
    # interrupted mid-run: the next call fails after its violations
    # commit, so its partitions' violations are redone on resume
    crash_verdict_commit(monkeypatch, "after_violations_commit")
    with pytest.raises(Crash):
        r1.run(df, max_partitions=2)
    monkeypatch.undo()

    r1b = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "ice"), run_id="r1")
    r1b.run(df)
    got = r1b.verdicts()
    # redo replaced, never duplicated: one verdict row per (partition, check)
    assert got.groupBy("partition", "check").count().where("count > 1").count() == 0
    assert got.select("partition").distinct().count() == tb.N_DAYS

    # identical to an uninterrupted run
    r2 = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "whole"), run_id="r1")
    r2.run(df)
    a = {(x["partition"], x["check"]): (x["pass"], x["n_rows"], x["n_violations"])
         for x in got.collect()}
    b = {(x["partition"], x["check"]): (x["pass"], x["n_rows"], x["n_violations"])
         for x in r2.verdicts().collect()}
    assert a == b
    assert sorted(map(repr, r1b.violations().collect())) \
        == sorted(map(repr, r2.violations().collect()))

    # snapshot log: one verdict commit per completed run() call (the
    # first call, then the resume of the redo + remaining 4)
    snaps = r1b._verdict_table.snapshots()
    assert len(snaps) == 2
    assert all(s["operation"] == "overwrite" for s in snaps)


def test_special_char_partition_values(spark, tmp_path):
    """Hive path escaping round-trips: ':' (escaped by Spark) and a
    literal '+' (NOT escaped — must survive url_decode) come back
    byte-identical, and the recovered column keeps its declared type."""
    df = spark.createDataFrame(
        [(1, "2024-03-08 12:00:00"), (2, "a+b"), (3, "x:y/z")],
        "doc_id long, pcol string",
    )
    t = IceTable.create(spark, str(tmp_path / "t"),
                        "doc_id long, pcol string", ["pcol"])
    t.append(df)
    got = sorted((r["doc_id"], r["pcol"]) for r in t.scan().collect())
    assert got == [(1, "2024-03-08 12:00:00"), (2, "a+b"), (3, "x:y/z")]
    # manifest stores the REAL values too (pruning matches on them)
    assert len(t.plan_files([("pcol", "=", "a+b")])) == 1


def test_driver_written_rows_equal_spark_written(spark, tmp_path, count_jobs):
    """Rows staged from a ``pyarrow.Table`` are written by the driver,
    without a Spark job. They land in the directories Spark's
    partitioned write gives the same rows, with the same manifest
    entries, and read back as the same rows of the same types: a NULL
    and an empty-string partition (Hive's default) and a value holding
    '/ : % = #' and a space included."""
    from pyspark.sql import types as T

    from json_schema_spark.plans.runner import ValidationRunner
    from json_schema_spark.session import arrow_table, local_frame

    ddl = ValidationRunner._VERDICT_DDL
    odd = "a/b: c%d=e#f g"
    rows = [("r", p, f"c/{k}", k == "x", 10, 1 - (k == "x"),
             {"violation_rate": 0.1, "other": None} if p else {},
             [f"file:/d/{p}/f{k}.parquet", "file:/d/g.parquet"] if p != odd else [],
             7)
            for p in ("", odd, "2024-03-01") for k in ("x", "y")]
    nulls = [("r", None, "c/z", True, 1, 0, {}, [], 7),
             ("r", "", "c/z", True, 2, 0, {}, [], 7)]
    parts = ["", odd, "2024-03-01", "gone"]

    def write(name, frame):
        t = IceTable.create(spark, str(tmp_path / name), ddl, ["partition"])
        t.overwrite_partitions(frame([rows[0]]), ["gone"])
        t.overwrite_partitions(frame(rows), parts)
        entries = sorted(t.plan_files(), key=lambda e: e["path"])
        t.overwrite_partitions(frame(nulls))
        for e in entries:
            # the path below the commit dir, which is named by a uuid
            e["path"] = os.path.dirname(e["path"].split("/data/", 1)[1].split("/", 1)[1])
            e.pop("bytes")
        return t, entries

    schema = T._parse_datatype_string(ddl)
    spark_jobs, (by_spark, spark_entries) = count_jobs(
        "spark-written", write, "spark",
        lambda r: local_frame(spark, r, ddl).coalesce(1))
    driver_jobs, (by_driver, driver_entries) = count_jobs(
        "driver-written", write, "driver", lambda r: arrow_table(r, schema))
    assert spark_jobs == 3 and driver_jobs == 0
    assert driver_entries == spark_entries
    assert sorted(e["path"] for e in driver_entries) == [
        "partition=2024-03-01", "partition=__HIVE_DEFAULT_PARTITION__",
        "partition=a%2Fb%3A c%25d%3De%23f g"]
    assert by_driver.scan().dtypes == by_spark.scan().dtypes
    got = sorted(map(repr, by_driver.scan().collect()))
    assert got == sorted(map(repr, by_spark.scan().collect()))
    # the NULL and "" rows replaced the default partition's, and read
    # back as NULL, as in Spark's own partition discovery
    assert len(got) == len(rows)
    assert by_driver.scan().where("partition is null").count() == len(nulls)
    assert len(by_driver.plan_files([("partition", "=", odd)])) == 1
    assert [s["summary"] for s in by_driver.snapshots()] \
        == [s["summary"] for s in by_spark.snapshots()]


def test_driver_written_rows_need_string_partitions(spark, tmp_path):
    import pyarrow as pa

    t = IceTable.create(spark, str(tmp_path / "t"), "doc_id long, bucket int",
                        ["bucket"])
    with pytest.raises(ValueError, match="string column"):
        t.overwrite_partitions(pa.table({"doc_id": pa.array([1], pa.int64()),
                                         "bucket": pa.array([2], pa.int32())}))
    assert t.snapshots() == []


def test_partition_column_keeps_declared_type(spark, tmp_path):
    df = spark.createDataFrame([(1, 10), (2, 20)], "doc_id long, bucket int")
    t = IceTable.create(spark, str(tmp_path / "t"),
                        "doc_id long, bucket int", ["bucket"])
    t.append(df)
    got = t.scan()
    assert dict(got.dtypes)["bucket"] == "int"
    assert sorted(r["bucket"] for r in got.collect()) == [10, 20]


@pytest.mark.parametrize("ddl,value", [("string", "h"), ("date", date(2024, 3, 1))])
def test_hive_default_partition_reads_as_null(spark, tmp_path, ddl, value):
    """Spark writes a NULL partition value, and an empty string, under
    Hive's default-partition name. scan() reads that back as NULL, as
    Spark's own partition discovery does, before the cast to the
    declared type, and pruning drops it for every comparison."""
    rows = [(1, None), (2, value)] + ([(3, "")] if ddl == "string" else [])
    t = IceTable.create(spark, str(tmp_path / "t"), f"doc_id long, p {ddl}", ["p"])
    t.append(spark.createDataFrame(rows, f"doc_id long, p {ddl}"))
    got = t.scan()
    assert dict(got.dtypes)["p"] == ddl
    assert sorted(tuple(r) for r in got.collect()) == [
        (d, None if p == "" else p) for d, p in rows]
    assert got.where("p is null").count() == len(rows) - 1
    assert [tuple(r) for r in t.scan([("p", "=", value)]).collect()] == [(2, value)]
    assert len(t.plan_files([("p", "=", value)])) == 1


def test_schema_evolution_additive(spark, tmp_path):
    """Additive evolution: old files NULL-fill the new column; the
    current scan shows the widened schema; time travel to an
    old snapshot reads under ITS era's schema; extra columns without
    evolve are rejected; non-additive evolution is rejected."""
    t = IceTable.create(spark, str(tmp_path / "t"),
                        "doc_id long, url string", [])
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, url string")
    s1 = t.append(v1)

    # extra column without evolution -> explicit error, not silent drop
    v2 = spark.createDataFrame([(3, "c", "en")],
                               "doc_id long, url string, lang string")
    with pytest.raises(ValueError, match="evolve_schema"):
        t.append(v2)

    t.evolve_schema("doc_id long, url string, lang string")
    t.append(v2)

    got = t.scan().orderBy("doc_id")
    assert got.columns == ["doc_id", "url", "lang"]
    assert [r["lang"] for r in got.collect()] == [None, None, "en"]

    # time travel: snapshot 1 reads under the 2-column era schema
    old = t.scan(snapshot_id=s1)
    assert old.columns == ["doc_id", "url"]
    assert old.count() == 2

    # non-additive (dropping url) rejected
    with pytest.raises(ValueError, match="additive"):
        t.evolve_schema("doc_id long, lang string")

    ops = [s["operation"] for s in t.snapshots()]
    assert ops == ["append", "evolve-schema", "append"]


def test_append_rejects_column_type_mismatch(spark, tmp_path, docs):
    """Scans read every file under the declared types, so a frame whose
    column type differs from the table schema is refused before it
    writes a file that no scan could decode."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    bad = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
    with pytest.raises(ValueError, match="doc_id string"):
        t.append(bad)
    with pytest.raises(ValueError, match="doc_id string"):
        t.overwrite_partitions(bad)
    assert t.snapshots() == []
    assert not (tmp_path / "t" / "data").exists()


def test_files_before_evolution_read_new_column_as_null(spark, tmp_path, docs):
    """A data file written before evolve_schema lacks the new column;
    the declared-schema read gives it NULL there, also when every file
    of the scan predates the evolution."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    t.append(docs.where("doc_id < 50"))
    t.evolve_schema(SCHEMA + ", score double")
    s2 = t.append(docs.where("doc_id >= 50").withColumn(
        "score", F.col("doc_id").cast("double")))

    got = {r["doc_id"]: r["score"] for r in t.scan().collect()}
    assert got == {i: (float(i) if i >= 50 else None) for i in range(100)}
    # a pruned read of pre-evolution files only
    old = [r["score"] for r in t.scan([("doc_id", "<", 50)]).collect()]
    assert len(old) == 50 and set(old) == {None}
    assert dict(t.scan_added_since(s2).dtypes)["score"] == "double"


def test_write_audit_publish(spark, webpages, tmp_path):
    """audited_append: spec-passing rows publish, planted-defect rows
    quarantine as explainable violation rows; nothing lost."""
    from json_schema_spark.compiler import compile_spec, violations_df
    from json_schema_spark.plans.write_audit import audited_append
    from tests.test_compiler import WEB_SPEC

    df = webpages.limit(3000)
    compiled = compile_spec(WEB_SPEC, df)
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in df.schema.fields)
    viol_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                         for f in violations_df(df, compiled,
                                                id_cols=["url"]).schema.fields)
    table = IceTable.create(spark, str(tmp_path / "pub"), ddl, [])
    quar = IceTable.create(spark, str(tmp_path / "quar"), viol_ddl, [])

    summary = audited_append(table, quar, df, compiled, id_cols=("url",),
                             run_id="wap-1")

    n_total = df.count()
    n_clean = table.scan().count()
    assert summary["audit_quarantined_rows"] > 0  # planted defects exist
    assert n_clean + summary["audit_quarantined_rows"] == n_total

    # published rows pass EVERY check; quarantine explains each reject
    republished = table.scan()
    recompiled = compile_spec(WEB_SPEC, republished)
    assert violations_df(republished, recompiled, id_cols=["url"]).count() == 0
    assert quar.scan().count() == summary["audit_violation_rows"]
    assert set(quar.scan().select("keyword").distinct().toPandas()["keyword"]) \
        >= {"required"}  # planted NULL text/ts rows

    # the publish snapshot carries the audit tallies
    snap = table.snapshots()[-1]
    assert snap["summary"]["audit_quarantined_rows"] \
        == summary["audit_quarantined_rows"]


def test_commit_conflict_leaves_winner_manifest_untouched(spark, tmp_path, docs):
    """Review regression: the losing racer must not write (or delete)
    the winner's manifest — lock acquisition precedes manifest IO."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, [])
    t.append(docs.where("doc_id < 10"))
    # racer claims the version with an append of its own
    _racer_commits_first(t, lambda other: other.append(docs.where("doc_id >= 90")))
    man2 = os.path.join(t._meta_dir, "snap-2.manifest.json")
    with pytest.raises(CommitConflict):
        t.append(docs.where("doc_id >= 10"))
    assert not os.path.exists(man2)  # loser never touched snapshot 2's manifest
    winner = t.snapshots()[-1]
    assert all(os.path.exists(os.path.join(t._meta_dir, m))
               for m in t._snap_manifests(winner))
    assert t.scan().count() == 20


def test_boolean_partition_pruning(spark, tmp_path):
    """Review regression: bool("false") is True — '= False' filters
    must keep the flag=false files."""
    df = spark.createDataFrame([(1, True), (2, False), (3, False)],
                               "doc_id long, flag boolean")
    t = IceTable.create(spark, str(tmp_path / "t"),
                        "doc_id long, flag boolean", ["flag"])
    t.append(df)
    assert sorted(r["doc_id"] for r in
                  t.scan([("flag", "=", False)]).collect()) == [2, 3]
    assert [r["doc_id"] for r in t.scan([("flag", "=", True)]).collect()] == [1]


def test_suffix_partition_column_names(spark, tmp_path):
    """Review regression: unanchored regex made 'id=' match inside
    'pid=7'; every id must come back with its own value."""
    df = spark.createDataFrame(
        [(7, 3, "a"), (7, 4, "b"), (8, 3, "c")],
        "pid int, id int, payload string")
    t = IceTable.create(spark, str(tmp_path / "t"),
                        "pid int, id int, payload string", ["pid", "id"])
    t.append(df)
    got = sorted((r["pid"], r["id"], r["payload"])
                 for r in t.scan().collect())
    assert got == [(7, 3, "a"), (7, 4, "b"), (8, 3, "c")]
    assert t.scan([("id", "=", 3)]).count() == 2


def test_evolve_rejects_type_change(spark, tmp_path, docs):
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, [])
    t.append(docs)
    with pytest.raises(ValueError, match="type of existing columns"):
        t.evolve_schema("doc_id string, url string, lang string")


def test_audited_append_retry_idempotent(spark, webpages, tmp_path):
    """Review regression: a retry of the same run_id must complete
    without duplicating either the published or quarantined rows."""
    from json_schema_spark.compiler import compile_spec, violations_df
    from json_schema_spark.plans.write_audit import audited_append
    from tests.test_compiler import WEB_SPEC

    df = webpages.limit(1000)
    compiled = compile_spec(WEB_SPEC, df)
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in df.schema.fields)
    viol_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                         for f in violations_df(df, compiled,
                                                id_cols=["url"]).schema.fields)
    table = IceTable.create(spark, str(tmp_path / "pub"), ddl, [])
    quar = IceTable.create(spark, str(tmp_path / "quar"), viol_ddl, [])

    s1 = audited_append(table, quar, df, compiled, run_id="r-7")
    n_pub, n_quar = table.scan().count(), quar.scan().count()
    audited_append(table, quar, df, compiled, run_id="r-7")  # retry
    assert table.scan().count() == n_pub
    assert quar.scan().count() == n_quar


def test_compact_and_expire(spark, tmp_path, docs):
    """Many small commits -> compact (op=replace: same rows, fewer
    files; pre-compaction time travel still works) -> expire (old data
    files deleted, current scan unaffected, expired-era reads fail
    cleanly)."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    for lo in range(0, 100, 10):  # 10 small append commits
        t.append(docs.where(f"doc_id >= {lo} and doc_id < {lo + 10}"))
    pre_compact_snap = t.snapshots()[-1]["id"]
    n_small = len(t.plan_files())
    assert n_small >= 20  # ~3 lang dirs x 10 commits

    t.compact()
    assert t.snapshots()[-1]["operation"] == "replace"
    assert t.scan().count() == 100
    assert len(t.plan_files()) < n_small
    # old snapshot still readable (files not yet deleted)
    assert t.scan(snapshot_id=pre_compact_snap).count() == 100

    import glob as _glob
    before = len(_glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                            recursive=True))
    res = t.expire_snapshots(keep_last=1)
    assert res["expired"] == 10 and res["deleted_files"] > 0
    after = len(_glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                           recursive=True))
    assert after < before
    assert t.scan().count() == 100  # current snapshot untouched
    assert len(t.snapshots()) == 1
    with pytest.raises(FileNotFoundError):  # expired era is gone, cleanly
        t.scan(snapshot_id=pre_compact_snap).count()


def test_remove_orphan_files(spark, tmp_path, docs):
    """Conflict-aborted commits leave staged-but-unreferenced debris;
    remove_orphan_files sweeps it (grace period 0 for the test) without
    touching referenced data."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, [])
    t.append(docs.where("doc_id < 50"))
    _racer_commits_first(t, lambda other: other.evolve_schema(SCHEMA))
    with pytest.raises(CommitConflict):
        t.append(docs.where("doc_id >= 50"))  # stages, then aborts

    import glob as _glob
    all_files = _glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                           recursive=True)
    referenced = {e["path"] for e in t.plan_files()}
    assert len(all_files) > len(referenced)  # orphans exist

    res = t.remove_orphan_files(older_than_s=0.0)
    assert res["data_files"] == len(all_files) - len(referenced)
    assert t.scan().count() == 50  # referenced data untouched
    remaining = _glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                           recursive=True)
    assert set(remaining) == referenced


def test_scan_added_since_incremental_read(spark, tmp_path, docs):
    """Incremental read: only files added after snapshot S — the
    O(new-data) continuous-validation contract."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    s1 = t.append(docs.where("doc_id < 40"))
    t.append(docs.where("doc_id >= 40 and doc_id < 80"))
    t.append(docs.where("doc_id >= 80"))

    inc = t.scan_added_since(s1)
    got = sorted(r["doc_id"] for r in inc.collect())
    assert got == list(range(40, 100))  # batch 2 + 3 only, no rescan
    assert inc.columns == t.scan().columns
    # filters prune the incremental file set too
    en = t.scan_added_since(s1, [("lang", "=", "en")])
    assert sorted(r["doc_id"] for r in en.collect()) \
        == [i for i in range(40, 100) if i % 3 == 0]
    # nothing added since the current snapshot
    cur = t.snapshots()[-1]["id"]
    assert t.scan_added_since(cur).count() == 0


def test_late_arrivals_caught_by_snapshot_diff(spark, webpages, tmp_path):
    """Composition: partition-manifest resume skips a COMPLETED
    partition, so late-arriving files landing in it would be missed;
    scan_added_since(last_validated) catches exactly those rows."""
    from json_schema_spark.compiler import compile_spec, verdict_df
    from tests.test_compiler import WEB_SPEC

    src = IceTable.create(
        spark, str(tmp_path / "src"),
        ", ".join(f"{f.name} {f.dataType.simpleString()}"
                  for f in webpages.schema.fields),
        ["warc_day"])
    first = webpages.limit(2000)
    s1 = src.append(first)

    # validate everything up to s1; record s1 as the watermark
    compiled = compile_spec(WEB_SPEC, src.scan())
    base_rows = verdict_df(src.scan(snapshot_id=s1), compiled).collect()
    assert sum(r["n_rows"] for r in base_rows) > 0

    # late arrivals: MORE rows for days already validated
    late = webpages.limit(2500).subtract(first)
    src.append(late)

    inc = src.scan_added_since(s1)
    assert inc.count() == late.count()  # only the late files
    inc_rows = {(r["column"], r["keyword"]): r["n_rows"]
                for r in verdict_df(inc, compiled).collect()}
    # incremental verdict covers exactly the late rows
    assert all(n == late.count() for n in inc_rows.values())


def test_runner_snapshot_increment(spark, webpages, tmp_path):
    """End-to-end continuous validation: the runner validates only the
    snapshot diff, advances its watermark, re-validates partitions that
    received late files, and keeps prior verdicts via time travel."""
    from json_schema_spark.plans.runner import ValidationRunner
    from tests.test_compiler import WEB_SPEC

    src = IceTable.create(
        spark, str(tmp_path / "src"),
        ", ".join(f"{f.name} {f.dataType.simpleString()}"
                  for f in webpages.schema.fields),
        ["warc_day"])
    first = webpages.limit(1500)
    src.append(first)

    r = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res"), run_id="inc")
    out1 = r.run_snapshot_increment(src)
    assert len(out1["partitions"]) > 0
    n1 = {x["partition"]: x["n_rows"] for x in r.verdicts().collect()}
    pre_late_snap = r._verdict_table.snapshots()[-1]["id"]

    # idempotent no-op when nothing new arrived
    assert r.run_snapshot_increment(src)["partitions"] == []

    # late arrivals land in existing partitions
    late = webpages.limit(1800).subtract(first)
    src.append(late)
    out2 = r.run_snapshot_increment(src)
    assert out2["snapshot"] > out1["snapshot"]
    late_days = {str(r_[0]) for r_ in late.select("warc_day").distinct().collect()}
    assert set(out2["partitions"]) == late_days

    # re-touched partitions are re-validated over their FULL current
    # content (diff-only validation would flip a failing partition to
    # pass when only clean late rows arrive)
    n2 = {x["partition"]: x["n_rows"] for x in r.verdicts().collect()}
    full_counts = {str(r_[0]): r_[1] for r_ in
                   src.scan().groupBy("warc_day").count().collect()}
    for day in late_days:
        assert n2[day] == full_counts[day]
    # prior full verdicts preserved via the verdict table's history
    vt = r._verdict_table
    hist = {x["partition"]: x["n_rows"]
            for x in vt.scan(snapshot_id=pre_late_snap).collect()}
    assert all(hist[p] == n1[p] for p in hist)


def test_snapshot_increment_budgeted_and_expired_watermark(spark, webpages, tmp_path):
    """max_partitions budgets a run without advancing the watermark
    until the diff drains; an expired watermark snapshot falls back to
    full re-validation instead of wedging."""
    from json_schema_spark.plans.runner import ValidationRunner
    from tests.test_compiler import WEB_SPEC

    src = IceTable.create(
        spark, str(tmp_path / "src"),
        ", ".join(f"{f.name} {f.dataType.simpleString()}"
                  for f in webpages.schema.fields),
        ["warc_day"])
    src.append(webpages.limit(1500))

    r = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res"), run_id="b")
    out1 = r.run_snapshot_increment(src, max_partitions=2)
    assert len(out1["partitions"]) == 2
    assert out1["snapshot"] is None  # diff not drained: watermark held

    out2 = r.run_snapshot_increment(src)  # drains the rest
    assert set(out2["partitions"]).isdisjoint(out1["partitions"])
    assert out2["snapshot"] == src.snapshots()[-1]["id"]

    # expire the watermark snapshot out of the source history
    src.append(webpages.limit(1600).subtract(webpages.limit(1500)))
    src.compact()
    src.expire_snapshots(keep_last=1)
    out3 = r.run_snapshot_increment(src)  # falls back to full rescan
    assert len(out3["partitions"]) > 0
    assert out3["snapshot"] == src.snapshots()[-1]["id"]
    # all partitions re-validated over the full table
    n = {x["partition"]: x["n_rows"] for x in r.verdicts().collect()}
    full = {str(r_[0]): r_[1] for r_ in
            src.scan().groupBy("warc_day").count().collect()}
    assert n == full


def test_evolution_composes_with_maintenance(spark, tmp_path):
    """Mixed-schema data files (pre/post additive evolution) must
    survive compaction, partition overwrite, and expiry unchanged."""
    t = IceTable.create(spark, str(tmp_path / "t"),
                        "doc_id long, p string", ["p"])
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, p string"))
    t.evolve_schema("doc_id long, p string, lang string")
    t.append(spark.createDataFrame([(3, "a", "en")],
                                   "doc_id long, p string, lang string"))

    def snap():
        return sorted((r["doc_id"], r["p"], r["lang"])
                      for r in t.scan().collect())

    expect = [(1, "a", None), (2, "b", None), (3, "a", "en")]
    assert snap() == expect

    t.compact()  # rewrites old files under the union schema
    assert snap() == expect

    # overwrite partition 'b' post-evolution
    t.overwrite_partitions(spark.createDataFrame(
        [(9, "b", "de")], "doc_id long, p string, lang string"))
    expect = [(1, "a", None), (3, "a", "en"), (9, "b", "de")]
    assert snap() == expect

    t.expire_snapshots(keep_last=1)
    t.remove_orphan_files(older_than_s=0.0)
    assert snap() == expect


def test_temporal_stats_pruning_is_conservative(spark, tmp_path):
    """ADVICE r2: timestamp stats are serialized to ISO strings in the
    manifest; a plain-string filter literal must NOT be compared
    lexicographically against them ('2024-01-02' < '2024-01-02T00:00:00'
    would prune a file whose rows Spark's coerced residual filter DOES
    match). scan(filters) must equal scan().filter(...)."""
    df = spark.sql("""
        SELECT id AS doc_id,
               timestamp(date_add(date'2024-01-01', CAST(id / 10 AS INT))) AS ts
        FROM range(0, 40)
    """).repartitionByRange(4, "ts")
    t = IceTable.create(spark, str(tmp_path / "t"), "doc_id long, ts timestamp", [])
    # Spark's default INT96 timestamps carry no parquet stats at all;
    # write INT64 micros so the manifest actually harvests ts min/max
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        t.append(df)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    assert len(t.plan_files()) == 4
    assert any("ts" in e["stats"] for e in t.plan_files())
    # rows with ts exactly midnight 2024-01-02 exist (ids 10..19)
    a = t.scan([("ts", "=", "2024-01-02")]).count()
    b = t.scan().where(F.col("ts") == "2024-01-02").count()
    assert a == b == 10
    # same-kind pruning still works: a tz-matching datetime literal
    # prunes files (stats from TIMESTAMP_MICROS are tz-aware UTC)
    import datetime as _dt
    lit = _dt.datetime(2024, 1, 2, tzinfo=_dt.timezone.utc)
    pruned = t.plan_files([("ts", "=", lit)])
    assert 0 < len(pruned) < 4
    assert t.scan([("ts", "=", lit)]).count() == 10
    # ADVICE r3 (high): a tz-aware NON-UTC literal denoting the same
    # instant ('2024-01-02T05:00:00+05:00' == midnight UTC) sorts after
    # the UTC stat strings — lexicographic compare would falsely prune
    # the matching file. The literal must be normalized to UTC first:
    # same files kept, same rows returned.
    lit_e5 = lit.astimezone(_dt.timezone(_dt.timedelta(hours=5)))
    assert lit_e5 == lit  # same instant, different offset
    assert {e["path"] for e in t.plan_files([("ts", "=", lit_e5)])} \
        == {e["path"] for e in pruned}
    assert t.scan([("ts", "=", lit_e5)]).count() == 10
    # range ops too (the same wrong-order compare hits ">=")
    assert t.scan([("ts", ">=", lit_e5)]).count() \
        == t.scan().where(F.col("ts") >= F.lit(lit)).count()


def test_expire_snapshots_zero_keep_raises(spark, tmp_path, docs):
    """ADVICE r2: keep_last=0 sliced snaps[-0:] == the whole list — a
    silent no-op contradicting the contract. Now a ValueError."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    t.append(docs)
    with pytest.raises(ValueError, match="keep_last"):
        t.expire_snapshots(keep_last=0)


def test_bloom_point_lookup_pruning(spark, tmp_path):
    """bloom_cols: per-file Bloom filters prune point lookups on
    high-cardinality columns where min/max stats can't discriminate —
    and pruning stays a pure optimization (scan(filters) == full
    filter) including under false positives."""
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        # urls interleave across files after repartition(8) by hash,
        # so every file's [min,max] straddles most lookups — stats
        # alone cannot prune these
        F.concat(F.lit("https://example.com/p/"),
                 F.md5(F.col("id").cast("string"))).alias("url"),
        F.lit("en").alias("lang"))
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA_URL,
                        [], bloom_cols=["url"])
    t.append(df.repartition(8))
    assert len(t.plan_files()) == 8
    assert all("bloom_ref" in e for e in t.plan_files())
    import json as _json
    assert all("url" in _json.load(open(e["bloom_ref"]))
               for e in t.plan_files())

    lookups = [r["url"] for r in
               df.where(F.col("doc_id").isin(3, 777, 1500)).collect()]
    pruned_counts = []
    for u in lookups:
        hits = t.plan_files([("url", "=", u)])
        pruned_counts.append(len(hits))
        # correctness: the pruned scan finds the row
        assert t.scan([("url", "=", u)]).count() == 1
    # each key lives in exactly 1 file; ~1% fpp makes >2 hits absurd
    assert all(c <= 2 for c in pruned_counts), pruned_counts
    # a key NOT in the table prunes everything (or nearly: fpp)
    assert len(t.plan_files([("url", "=", "https://no.such/key")])) <= 1
    # range ops ignore the bloom (stats only) — still conservative
    assert t.scan([("url", ">=", "https://")]).count() == 2000


SCHEMA_URL = "doc_id long, url string, lang string"


def test_bloom_survives_maintenance_and_int_keys(spark, tmp_path):
    """Blooms recompute for files written by overwrite/compact (same
    _stage path) and work for integer keys."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA_URL,
                        ["lang"], bloom_cols=["doc_id"])
    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u-"), F.col("id")).alias("url"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"))
    t.append(df.repartition(4))
    assert t.scan([("doc_id", "=", 123)]).count() == 1
    n_before = len(t.plan_files([("doc_id", "=", 123)]))
    assert n_before < len(t.plan_files())
    # overwrite partition 'en' -> new files carry fresh blooms
    t.overwrite_partitions(df.where("lang = 'en'")
                           .withColumn("url", F.lit("fixed")))
    assert all("bloom_ref" in e for e in t.plan_files())
    assert t.scan([("doc_id", "=", 123)]).count() == 1
    t.compact()
    assert t.scan([("doc_id", "=", 123)]).count() == 1
    assert t.scan().count() == 500


def test_bloom_sidecar_lifecycle(spark, tmp_path):
    """Bloom bits live in immutable sidecars (manifest stays small —
    entries carry a path, not 16 KiB of bits, so per-commit metadata
    IO stays O(entries)); sidecars die with their data file on expiry
    and orphan cleanup, and a MISSING sidecar degrades to keep-the-
    file, never to wrong results."""
    import json as _json

    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA_URL,
                        ["lang"], bloom_cols=["url"])
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u-"), F.col("id")).alias("url"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"))
    t.append(df)
    entries = t.plan_files()
    # manifest entries are small: bits are NOT inline
    assert all("blooms" not in e for e in entries)
    sidecars = [e["bloom_ref"] for e in entries]
    assert all(os.path.exists(p) for p in sidecars)

    # deleting a sidecar leaves results correct (conservative keep)
    os.unlink(sidecars[0])
    from json_schema_spark.sources.icetable import _bloom_load
    _bloom_load.__defaults__[0].clear()  # drop the positive cache
    assert t.scan([("url", "=", "u-3")]).count() == 1

    # expiry deletes the expired files' sidecars too
    t.overwrite_partitions(df.withColumn("url", F.concat(F.lit("v-"), F.col("doc_id"))))
    t.expire_snapshots(keep_last=1)
    live = {e["path"] for e in t.plan_files()}
    for p in sidecars[1:]:
        data = p[: -len(".bloom.json")]
        assert os.path.exists(p) == (data in live)


def test_runner_snapshot_increment_chunked_identical_to_one_at_a_time(
        spark, webpages, tmp_path):
    """Snapshot-incremental: one call reads its pending partitions'
    FULL current content through ONE pruned multi-partition source scan
    ('in' filter) and must produce verdicts identical to draining the
    same diffs one partition per call — including re-validated
    late-arrival partitions."""
    from json_schema_spark.plans.runner import ValidationRunner
    from tests.test_compiler import WEB_SPEC

    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                    for f in webpages.schema.fields)

    def drain(r, src, budget):
        done = []
        for _ in range(20):
            out = r.run_snapshot_increment(src, max_partitions=budget)
            done += out["partitions"]
            if out["snapshot"] == src.snapshots()[-1]["id"]:
                return done
        raise AssertionError("the diff did not drain")

    results = {}
    for mode, budget in (("single", 1), ("chunked", None)):
        src = IceTable.create(spark, str(tmp_path / f"src_{mode}"), ddl,
                              ["warc_day"])
        first = webpages.limit(1500)
        src.append(first)
        r = ValidationRunner(spark, WEB_SPEC,
                             str(tmp_path / f"res_{mode}"), run_id="inc")
        drain(r, src, budget)
        src.append(webpages.limit(1800).subtract(first))  # late arrivals
        assert len(drain(r, src, budget)) > 0
        results[mode] = {
            (x["partition"], x["check"]):
                (x["pass"], x["n_rows"], x["n_violations"])
            for x in r.verdicts().collect()}
    assert results["single"] == results["chunked"]


def test_manifest_list_reuse(spark, tmp_path, docs):
    """Manifest-LIST commits: append reuses every parent manifest BY
    NAME and adds exactly one new manifest (metadata IO O(new), not
    O(table)); dynamic-partition overwrite rewrites only manifests
    containing a touched partition; compaction starts fresh."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    t.append(docs.where("doc_id < 30"))
    t.append(docs.where("doc_id >= 30 and doc_id < 60"))
    t.append(docs.where("doc_id >= 60"))
    snaps = t.snapshots()
    m1 = t._snap_manifests(snaps[0])
    m2 = t._snap_manifests(snaps[1])
    m3 = t._snap_manifests(snaps[2])
    # each append = parent's manifests reused verbatim + exactly 1 new
    assert m2[:len(m1)] == m1 and len(m2) == len(m1) + 1
    assert m3[:len(m2)] == m2 and len(m3) == len(m2) + 1
    assert t.scan().count() == 100

    # overwrite of lang=en: every parent manifest contains some 'en'
    # files here, so all are rewritten-filtered + 1 new; but the KEY
    # property is correctness + no shared-manifest corruption: older
    # snapshots still read their original manifests untouched
    t.overwrite_partitions(docs.where("lang = 'en'")
                           .withColumn("url", F.lit("fixed")))
    assert t.scan().count() == 100
    assert t.scan(snapshot_id=snaps[1]["id"]).count() == 60  # time travel intact

    # expiry deletes only manifests no kept snapshot references
    t.expire_snapshots(keep_last=1)
    for name in t._snap_manifests(t.snapshots()[-1]):
        assert os.path.exists(os.path.join(t._meta_dir, name))
    assert t.scan().count() == 100
    t.remove_orphan_files(older_than_s=0.0)
    assert t.scan().count() == 100


def test_manifest_list_partial_overwrite_rewrites_minimum(spark, tmp_path):
    """A partition-grouped layout: overwriting ONE partition reuses the
    other partitions' manifests by name (no rewrite)."""
    t = IceTable.create(spark, str(tmp_path / "t"), SCHEMA, ["lang"])
    mk = lambda lang, lo: spark.range(lo, lo + 10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("u-"), F.col("id")).alias("url"),
        F.lit(lang).alias("lang"))
    t.append(mk("en", 0))    # manifest A: en only
    t.append(mk("de", 100))  # manifest B: de only
    before = t._snap_manifests(t.snapshots()[-1])
    t.overwrite_partitions(mk("de", 200))
    after = t._snap_manifests(t.snapshots()[-1])
    # the en-only manifest survives BY NAME; the de manifest is gone
    # (fully dropped), replaced by the new de manifest
    assert before[0] in after and before[1] not in after
    assert len(after) == 2
    got = {(r["lang"], r["doc_id"]) for r in t.scan().collect()}
    assert got == ({("en", i) for i in range(10)}
                   | {("de", i) for i in range(200, 210)})


def test_compact_cluster_by_prunes_ranges(spark, tmp_path):
    """Range-clustered compaction (compact(cluster_by=...)): after
    random-interleave appends every file spans the full value range so
    stats pruning keeps everything; the clustered rewrite gives files
    DISJOINT min/max windows and a range predicate then plans only the
    overlapping few — same rows either way."""
    t = IceTable.create(spark, str(tmp_path / "t"), "doc_id long, v long", [])
    for s in range(4):  # each append spans the FULL v range
        df = spark.range(0, 1000).select(
            (F.col("id") + s * 1000).alias("doc_id"),
            F.pmod(F.col("id") * 2654435761 + s, F.lit(1000)).alias("v"))
        t.append(df)
    filt = [("v", ">=", 100), ("v", "<", 200)]
    # un-clustered layout: stats cannot prune a single file
    assert len(t.plan_files(filt)) == len(t.plan_files())
    baseline = sorted(t.scan(filt).select("doc_id", "v").collect())

    t.compact(target_file_bytes=8 * 1024, cluster_by=["v"])
    snap = t.snapshots()[-1]
    assert snap["operation"] == "replace"
    assert snap["summary"]["cluster_by"] == ["v"]
    files = t.plan_files()
    assert len(files) >= 4, "test needs a multi-file layout to mean anything"
    pruned = t.plan_files(filt)
    assert len(pruned) <= max(2, len(files) // 3), (
        f"clustered layout should plan few files: {len(pruned)}/{len(files)}")
    # pruning is a pure optimization: identical rows
    assert sorted(t.scan(filt).select("doc_id", "v").collect()) == baseline


def test_compact_cluster_by_composes_with_partitioning(spark, tmp_path):
    """cluster_by on a PARTITIONED table: partition columns lead the
    range key, so each partition value still lands in its own Hive dir
    while files within a partition get disjoint cluster-column
    windows — partition pruning and stats pruning then compose."""
    t = IceTable.create(spark, str(tmp_path / "t"),
                        "doc_id long, v long, lang string", ["lang"])
    for s in range(3):
        df = spark.range(0, 600).select(
            (F.col("id") + s * 600).alias("doc_id"),
            F.pmod(F.col("id") * 2654435761 + s, F.lit(1000)).alias("v"),
            F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"))
        t.append(df)
    t.compact(target_file_bytes=4 * 1024, cluster_by=["v"])
    files = t.plan_files()
    assert all(e["partition"]["lang"] in ("en", "de") for e in files)
    both = [("lang", "=", "en"), ("v", ">=", 100), ("v", "<", 200)]
    pruned = t.plan_files(both)
    en_files = [e for e in files if e["partition"]["lang"] == "en"]
    assert len(en_files) >= 3
    assert len(pruned) < len(en_files), "stats pruning must act WITHIN the partition"
    assert all(e["partition"]["lang"] == "en" for e in pruned)
    expect = sorted(t.scan().where("lang='en' and v >= 100 and v < 200")
                    .select("doc_id").collect())
    assert sorted(t.scan(both).select("doc_id").collect()) == expect
