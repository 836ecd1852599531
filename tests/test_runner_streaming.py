"""Checkpoint/resume runner + Structured Streaming incremental path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from json_schema_spark.plans.runner import ValidationRunner
from json_schema_spark.sources import tables as tb
from tests.test_compiler import WEB_SPEC


@pytest.fixture(scope="module")
def pages_parquet(spark, webpages, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("runner") / "pages")
    webpages.write.partitionBy("warc_day").mode("overwrite").parquet(path)
    return path


def test_resume_no_duplicates_identical_verdicts(spark, pages_parquet, tmp_path):
    """Kill after K partitions, re-run, assert (a) no duplicated
    results, (b) verdicts identical to an uninterrupted run
    (SURVEY.md §5 test 5)."""
    df = spark.read.parquet(pages_parquet)

    r1 = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res1"), run_id="r1")
    first = r1.run(df, max_partitions=3)  # simulated interruption
    assert len(first) == 3
    assert r1.completed() == set(first)

    r1b = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res1"), run_id="r1")
    second = r1b.run(df)  # resume
    assert set(first).isdisjoint(second)
    assert len(first) + len(second) == tb.N_DAYS

    # uninterrupted control run
    r2 = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res2"), run_id="r2")
    r2.run(df)

    a = {(x["partition"], x["check"]): (x["pass"], x["n_rows"], x["n_violations"])
         for x in r1b.verdicts().collect()}
    b = {(x["partition"], x["check"]): (x["pass"], x["n_rows"], x["n_violations"])
         for x in r2.verdicts().collect()}
    assert a == b
    # no dup verdict rows
    n = r1b.verdicts().count()
    assert n == len(a)
    # lineage: every partition records its input files + wall time
    rows = r1b.verdicts().collect()
    assert all(len(r["input_files"]) >= 1 for r in rows)
    assert all(r["wall_ms"] >= 0 for r in rows)
    # violations partitioned per day, pass iff zero violations
    v = r1b.violations()
    per = {r["partition"]: r["count"] for r in v.groupBy("partition").count().collect()}
    for x in rows:
        if x["pass"]:
            assert x["n_violations"] == 0


def test_streaming_incremental_exactly_once(spark, webpages, tmp_path):
    """availableNow streaming validation: second run with the same
    checkpoint processes nothing new (exactly-once), violation counts
    match the batch path."""
    from json_schema_spark.compiler import compile_spec
    from json_schema_spark.streaming.incremental import run_incremental

    src = str(tmp_path / "stream_src")
    webpages.limit(2000).coalesce(4).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    batch_df = spark.read.parquet(src)

    run_incremental(spark, src, WEB_SPEC, batch_df.schema, out, ckpt)
    n1 = spark.read.parquet(out).count()

    compiled = compile_spec(WEB_SPEC, batch_df)
    from json_schema_spark.compiler import violations_df

    expected = violations_df(batch_df, compiled, id_cols=["url"]).count()
    assert n1 == expected

    run_incremental(spark, src, WEB_SPEC, batch_df.schema, out, ckpt)  # no-op
    assert spark.read.parquet(out).count() == n1


def test_streaming_windowed_counts(spark, webpages, tmp_path):
    """Watermarked windowed aggregation finalizes per-day windows."""
    from json_schema_spark.compiler import compile_spec
    from json_schema_spark.streaming.incremental import (
        read_page_stream,
        windowed_violation_counts,
    )

    src = str(tmp_path / "wsrc")
    webpages.limit(2000).coalesce(4).write.mode("overwrite").parquet(src)
    batch_df = spark.read.parquet(src)
    compiled = compile_spec(WEB_SPEC, batch_df)

    stream = read_page_stream(spark, src, batch_df.schema)
    agg = windowed_violation_counts(stream, compiled)
    q = (
        agg.writeStream.format("memory").queryName("wincounts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from wincounts").collect()
    assert len(rows) == tb.N_DAYS
    total = sum(r["n_rows"] for r in rows)
    assert total == batch_df.where(F.col("warc_ts").isNotNull()).count()


def test_streaming_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: a text seen in an
    earlier micro-batch is suppressed when it reappears in a later one
    (state store), which no stateless projection can do."""
    from json_schema_spark.streaming.stateful import streaming_dedup_first_seen

    src = str(tmp_path / "dsrc")
    # batch 1 (file 1): texts A, B; batch 2 (file 2): B again + C —
    # maxFilesPerTrigger=1 forces one file per micro-batch
    spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [(3, "beta text"), (4, "gamma text"), (5, "gamma text")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = streaming_dedup_first_seen(stream, "doc_id", "text")
    q = (
        out.writeStream.format("memory").queryName("firstseen")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from firstseen").collect()
    by_hash = {r["text_hash"]: r for r in rows}
    # exactly one emission per distinct text, despite 'beta text' and
    # 'gamma text' duplicates (cross-batch and same-batch)
    assert len(rows) == 3 and len(by_hash) == 3
    firsts = sorted(r["first_id"] for r in rows)
    assert firsts == [1, 2, 4]  # min id wins within the first batch seen
    # same-batch dup folded into the count at emit time
    assert {r["n_dups_so_far"] for r in rows if r["first_id"] == 4} == {2}


def test_stream_to_icetable_exactly_once(spark, webpages, tmp_path):
    """foreachBatch -> IceTable sink: one snapshot per micro-batch
    stamped with its stream_batch_id; a second availableNow run with
    the same checkpoint adds nothing; a manually replayed batch id is
    a no-op (the snapshot log is the sink's transaction log)."""
    from json_schema_spark.compiler import compile_spec, violations_df
    from json_schema_spark.sources.icetable import IceTable
    from json_schema_spark.streaming.incremental import (
        read_page_stream,
        stream_to_icetable,
        streaming_violations,
    )

    src = str(tmp_path / "ice_src")
    webpages.limit(2000).repartition(4).write.mode("overwrite").parquet(src)
    batch_df = spark.read.parquet(src)
    compiled = compile_spec(WEB_SPEC, batch_df)

    viol_schema = violations_df(batch_df, compiled, id_cols=["url"]).schema
    table = IceTable.create(spark, str(tmp_path / "ice_sink"),
                            viol_schema.simpleString()[7:-1]
                            .replace(":", " ").replace(",", ", "), [])

    stream = read_page_stream(spark, src, batch_df.schema,
                              max_files_per_trigger=2)
    stream_to_icetable(
        streaming_violations(stream, compiled, id_cols=["url"]),
        table, str(tmp_path / "ice_ckpt"))

    expected = violations_df(batch_df, compiled, id_cols=["url"]).count()
    assert table.scan().count() == expected
    snaps = table.snapshots()
    assert len(snaps) == 2  # 4 files / maxFilesPerTrigger=2
    # batch ids are namespaced by the streaming query id (checkpoint
    # reset => new query id => no collision with prior snapshots)
    batch_ids = sorted(s["summary"]["stream_batch_id"] for s in snaps)
    qids = {b.split("/")[0] for b in batch_ids}
    assert len(qids) == 1 and [b.split("/")[1] for b in batch_ids] == ["0", "1"]

    # second run, same checkpoint: nothing new
    stream2 = read_page_stream(spark, src, batch_df.schema,
                               max_files_per_trigger=2)
    stream_to_icetable(
        streaming_violations(stream2, compiled, id_cols=["url"]),
        table, str(tmp_path / "ice_ckpt"))
    assert len(table.snapshots()) == 2

    # simulated crash-replay of batch 1 under the SAME query id:
    # skipped before staging (the idempotence path)
    key = next(b for b in batch_ids if b.endswith("/1"))
    table_rows_before = table.scan().count()
    sample = violations_df(batch_df.limit(10), compiled, id_cols=["url"])
    seen = {s["summary"].get("stream_batch_id") for s in table.snapshots()}
    assert key in seen
    if key not in seen:  # the sink's guard, replicated verbatim
        table.append(sample, summary={"stream_batch_id": key})
    assert table.scan().count() == table_rows_before


def test_run_failure_does_not_leak_cached_slice(spark, pages_parquet, tmp_path):
    """ADVICE r2: a failure mid-call must unpersist the cached slice
    (try/finally) — otherwise every retry leaks a cached DataFrame
    into executor memory for the rest of the session."""
    # valid plan, fails at action time — but only once the url column
    # is read, so the pending-partition probe still succeeds
    df = (spark.read.parquet(pages_parquet)
          .withColumn("url", F.when(F.length("url") >= 0, F.raise_error("boom"))
                              .otherwise(F.col("url"))))
    r = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res"), run_id="rf")

    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(Exception, match="boom"):
        r.run(df, max_partitions=2)
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after == before
    assert r.completed() == set()


def test_violations_write_failure_on_its_thread(spark, pages_parquet, tmp_path,
                                                monkeypatch):
    """The violations write runs on a driver thread beside the verdict
    aggregate. Its failure is raised in the caller once both have
    ended; the verdict table stays at its prior snapshot, no cached
    flags are left, and the next call redoes the partitions."""
    import threading

    from json_schema_spark.sources.icetable import IceTable
    from tests.test_commit_protocol import Crash

    df = spark.read.parquet(pages_parquet)
    r = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res"), run_id="vf")
    r.run(df, max_partitions=2)
    snapshots = r._verdict_table.snapshots()
    verdicts = sorted(map(repr, r.verdicts().collect()))
    sc = spark.sparkContext
    cached = set(sc._jsc.getPersistentRDDs().keys())

    threads = []
    stage = IceTable._stage

    def failing_stage(self, *a, **k):
        out = stage(self, *a, **k)  # the Spark write job runs
        if os.path.basename(self.root) == "violations_ice":
            threads.append(threading.get_ident())
            raise Crash("violations write")
        return out

    monkeypatch.setattr(IceTable, "_stage", failing_stage)
    with pytest.raises(Crash, match="violations write"):
        r.run(df)
    monkeypatch.undo()
    assert threads and threading.get_ident() not in threads
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert set(sc._jsc.getPersistentRDDs().keys()) == cached
    assert r._verdict_table.snapshots() == snapshots
    assert sorted(map(repr, r.verdicts().collect())) == verdicts

    assert len(r.run(df)) == tb.N_DAYS - 2
    assert r.completed() == {x[0] for x in df.select(
        F.col("warc_day").cast("string")).distinct().collect()}


def test_verdict_rows_written_by_the_driver(spark, tmp_path):
    """A call's verdict rows are written by the driver, one file per
    partition, and read back as the declared types with their counts,
    rates and input files: an empty-string partition and one holding
    '/ : % = #' and a space included."""
    odd = "a/b: c%d=e#f g"
    spec = {"columns": {"n": {"type": "integer", "minimum": 0}}}
    hosts = ["", odd, "h"]
    rows = [(f"u{i}", hosts[i % 3], i % 4 - 1) for i in range(30)]
    path = str(tmp_path / "src")
    spark.createDataFrame(rows, "url string, host string, n int") \
        .coalesce(1).write.parquet(path)
    src = spark.read.parquet(path)
    [src_file] = [f for f in os.listdir(path) if f.endswith(".parquet")]

    r = ValidationRunner(spark, spec, str(tmp_path / "res"), run_id="d")
    assert sorted(r.run(src, partition_col="host")) == sorted(hosts)
    assert r.completed() == set(hosts)
    got = r.verdicts()
    assert got.dtypes == [
        ("run_id", "string"), ("partition", "string"), ("check", "string"),
        ("pass", "boolean"), ("n_rows", "bigint"), ("n_violations", "bigint"),
        ("metrics", "map<string,double>"), ("input_files", "array<string>"),
        ("wall_ms", "bigint")]
    want = set()
    for h in hosts:
        ns = [n for _, host, n in rows if host == h]
        bad = sum(n < 0 for n in ns)
        for check, nv in (("n/type", 0), ("n/minimum", bad)):
            want.add(("d", h, check, nv == 0, len(ns), nv, nv / len(ns)))
    assert {(x["run_id"], x["partition"], x["check"], x["pass"], x["n_rows"],
             x["n_violations"], x["metrics"]["violation_rate"])
            for x in got.collect()} == want
    assert all(len(x["input_files"]) == 1 and x["input_files"][0].endswith(src_file)
               for x in got.collect())
    files = [e["path"] for e in r._verdict_table.plan_files()]
    assert len(files) == len(hosts)
    assert {os.path.basename(os.path.dirname(f)) for f in files} == {
        "partition=__HIVE_DEFAULT_PARTITION__", "partition=h",
        "partition=a%2Fb%3A c%25d%3De%23f g"}


def test_chunked_run_identical_to_one_at_a_time(spark, pages_parquet, tmp_path):
    """One call validates its whole pending set in one pass (grouped
    verdict agg + one violations commit) and must produce the same
    verdicts, lineage and violation rows as validating one partition
    per call — with completion still per partition, so an interrupted
    multi-partition call resumes cleanly."""
    df = spark.read.parquet(pages_parquet)

    rs = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "single"), run_id="r")
    singles = [rs.run(df, max_partitions=1) for _ in range(tb.N_DAYS + 1)]
    assert [len(x) for x in singles] == [1] * tb.N_DAYS + [0]

    rc = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "chunked"), run_id="r")
    # interruption after a 3-partition call, then a resume of the rest
    first = rc.run(df, max_partitions=3)
    assert len(first) == 3 and rc.completed() == set(first)
    rc2 = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "chunked"), run_id="r")
    second = rc2.run(df)
    assert set(first).isdisjoint(second)
    assert len(first) + len(second) == tb.N_DAYS

    def vkey(r):
        return (r["partition"], r["check"])

    a = {vkey(x): (x["pass"], x["n_rows"], x["n_violations"],
                   sorted(x["input_files"]))
         for x in rs.verdicts().collect()}
    b = {vkey(x): (x["pass"], x["n_rows"], x["n_violations"],
                   sorted(x["input_files"]))
         for x in rc2.verdicts().collect()}
    assert a == b
    va = sorted(repr(r) for r in rs.violations().collect())
    vb = sorted(repr(r) for r in rc2.violations().collect())
    assert va == vb and len(va) > 0


def test_run_job_count_independent_of_partitions(spark, pages_parquet, tmp_path,
                                                  count_jobs):
    """The pass runs a fixed set of Spark jobs per call: validating
    three pending partitions costs no more jobs than validating one."""
    df = spark.read.parquet(pages_parquet)

    def jobs(n_parts: int) -> int:
        r = ValidationRunner(spark, WEB_SPEC, str(tmp_path / f"p{n_parts}"),
                             run_id="j")
        n_jobs, done = count_jobs(f"runner-jobs-{n_parts}",
                                  r.run, df, max_partitions=n_parts)
        assert len(done) == n_parts
        return n_jobs

    one, three = jobs(1), jobs(3)
    assert one > 0
    assert three == one


def test_snapshot_increment_job_count_independent_of_partitions(
        spark, pages_parquet, tmp_path, count_jobs):
    """A snapshot-incremental call answers its partition set from the
    source's manifests and reads under the declared schema, so it runs
    only its real work for one partition or for three: the violations
    write and, beside it, the verdict aggregate, whose adaptive plan
    builds the cached flags in a job of its own before its map and
    result jobs. The verdict rows are written without a job."""
    from json_schema_spark.sources.icetable import IceTable

    df = spark.read.parquet(pages_parquet)
    src = IceTable.create(spark, str(tmp_path / "src"), ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields),
        ["warc_day"])
    src.append(df)

    def jobs(n_parts: int) -> int:
        r = ValidationRunner(spark, WEB_SPEC, str(tmp_path / f"p{n_parts}"),
                             run_id="j")
        n_jobs, out = count_jobs(f"snapshot-jobs-{n_parts}",
                                 r.run_snapshot_increment, src,
                                 max_partitions=n_parts)
        assert len(out["partitions"]) == n_parts
        return n_jobs

    one, three = jobs(1), jobs(3)
    assert 0 < one <= 4
    assert three == one


def test_snapshot_increment_rejects_non_partition_column(spark, tmp_path):
    """The partition set comes from the source's manifests, so the
    partition column must be one of the source's partition columns."""
    from json_schema_spark.sources.icetable import IceTable

    spec = {"columns": {"n": {"type": "integer", "minimum": 0}}}
    src = IceTable.create(spark, str(tmp_path / "src"),
                          "url string, host string, n int", ["host"])
    r = ValidationRunner(spark, spec, str(tmp_path / "res"), run_id="p")
    with pytest.raises(ValueError, match="not a partition column"):
        r.run_snapshot_increment(src, partition_col="url")


def test_revalidated_clean_partition_drops_stale_violations(spark, tmp_path):
    """A partition value that Spark escapes in paths (``h:1`` is written
    to ``partition=h%3A1``) is read back, and once its data is fixed its
    re-validation clears the stale violation rows, so violations()
    agrees with the verdict."""
    from json_schema_spark.sources.icetable import IceTable

    spec = {"columns": {"n": {"type": "integer", "minimum": 0}}}
    ddl = "url string, host string, n int"
    src = IceTable.create(spark, str(tmp_path / "src"), ddl, ["host"])
    src.append(spark.createDataFrame(
        [("u1", "h:1", -1), ("u2", "h:1", 3), ("u3", "h2", 5)], ddl))
    r = ValidationRunner(spark, spec, str(tmp_path / "res"), run_id="c")
    assert sorted(r.run_snapshot_increment(src, partition_col="host")
                  ["partitions"]) == ["h2", "h:1"]
    assert [(x["url"], x["partition"]) for x in r.violations().collect()] \
        == [("u1", "h:1")]

    # the bad row is fixed: the partition's content is replaced
    src.overwrite_partitions(spark.createDataFrame(
        [("u1", "h:1", 1), ("u2", "h:1", 3)], ddl))
    out = r.run_snapshot_increment(src, partition_col="host")
    assert out["partitions"] == ["h:1"]
    vd = {(x["partition"], x["check"]): x for x in r.verdicts().collect()}
    assert vd[("h:1", "n/minimum")]["pass"]
    assert vd[("h:1", "n/minimum")]["n_violations"] == 0
    # the now-clean partition was dropped from the violations table
    assert r.violations().count() == 0


def test_revalidated_partition_keeps_violation_history(spark, tmp_path):
    """Re-validating a partition whose violation rows changed replaces
    them in violations(), while the violations table scanned at its
    previous snapshot still holds the old rows."""
    from json_schema_spark.sources.icetable import IceTable

    spec = {"columns": {"n": {"type": "integer", "minimum": 0}}}
    ddl = "url string, host string, n int"
    src = IceTable.create(spark, str(tmp_path / "src"), ddl, ["host"])
    src.append(spark.createDataFrame(
        [("u1", "h1", -1), ("u2", "h1", 3), ("u3", "h2", -5)], ddl))
    r = ValidationRunner(spark, spec, str(tmp_path / "res"), run_id="h")
    r.run_snapshot_increment(src, partition_col="host")
    table = IceTable(spark, str(tmp_path / "res" / "violations_ice"))
    before = table.snapshots()[-1]["id"]

    src.overwrite_partitions(spark.createDataFrame(
        [("u1", "h1", 1), ("u2", "h1", -3)], ddl))
    assert r.run_snapshot_increment(src, partition_col="host")["partitions"] == ["h1"]

    def rows(df):
        return sorted((x["url"], x["partition"]) for x in df.collect())

    assert rows(r.violations()) == [("u2", "h1"), ("u3", "h2")]
    assert rows(table.scan(snapshot_id=before)) == [("u1", "h1"), ("u3", "h2")]


def test_use_icetable_false_rejected(spark, tmp_path):
    """Results always land in IceTables: the old plain-parquet switch
    is refused."""
    with pytest.raises(ValueError, match="use_icetable"):
        ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res"), use_icetable=False)


def test_uri_results_dir_rejected(spark, tmp_path):
    """The results IceTables commit what a local glob finds, so a URI
    results dir (or table root) is refused instead of committing
    empty snapshots and passing every check."""
    from json_schema_spark.sources.icetable import IceTable

    uri = (tmp_path / "res").as_uri()  # file:///...
    with pytest.raises(ValueError, match="URI"):
        ValidationRunner(spark, WEB_SPEC, uri)
    with pytest.raises(ValueError, match="URI"):
        IceTable(spark, "s3://bucket/table")
    with pytest.raises(ValueError, match="URI"):
        IceTable.create(spark, uri, "a long")
    assert not (tmp_path / "res").exists()


@pytest.mark.parametrize("legacy", ["verdicts", "violations"])
def test_legacy_results_dir_rejected(spark, tmp_path, legacy):
    """A results dir of the older plain-parquet layout is refused: its
    results would not show in verdicts()/violations()."""
    res = tmp_path / "res"
    res.mkdir()
    (res / legacy / "part=d0").mkdir(parents=True)
    with pytest.raises(ValueError, match="fresh results directory"):
        ValidationRunner(spark, WEB_SPEC, str(res))


def test_stream_digests_equal_batch_rebuild(spark, webpages, tmp_path):
    """Per-micro-batch sketch commits through the exactly-once IceTable
    sink drive the SAME KS as one batch rebuild over all rows —
    bit-for-bit in the exact regime (k >= n), because exact-regime KLL
    sketches hold every value and merge losslessly across any batch
    split. Also checks replay safety: a second availableNow run adds no
    snapshots and leaves KS unchanged."""
    from json_schema_spark.operators.tdigest import (
        DIGEST_SCHEMA,
        digest_by_partition,
    )
    from json_schema_spark.sources.icetable import IceTable
    from json_schema_spark.streaming.incremental import (
        stream_digests_to_icetable,
    )
    import __spark_entry__ as em

    docs = webpages.limit(3000).select(
        F.col("warc_day").cast("string").alias("source"),
        F.length("text").alias("n_chars"))
    k = 3000  # >= the row count: the exact regime
    src = str(tmp_path / "digest_src")
    docs.repartition(6).write.mode("overwrite").parquet(src)
    batch_df = spark.read.parquet(src)

    # streaming path: 6 files / maxFilesPerTrigger=2 -> 3 micro-batches
    t_stream = IceTable.create(spark, str(tmp_path / "digest_stream"),
                               DIGEST_SCHEMA, ["partition"])
    stream = (spark.readStream.schema(batch_df.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    stream_digests_to_icetable(stream, t_stream, str(tmp_path / "ck"),
                               "n_chars", "source", k=k)
    assert len(t_stream.snapshots()) == 3  # one commit per micro-batch

    # batch rebuild: one digest pass over everything
    t_batch = IceTable.create(spark, str(tmp_path / "digest_batch"),
                              DIGEST_SCHEMA, ["partition"])
    t_batch.append(digest_by_partition(batch_df, "n_chars", "source",
                                       k=k))

    def ks(t):
        # reuse the driver's stored-digest KS (src0 has no meaning on
        # webpages; pick the lexicographically-first day as "new")
        first = t.scan().agg(F.min("partition")).collect()[0][0]
        stored = t.scan().withColumn(
            "partition",
            F.when(F.col("partition") == first, F.lit("src0"))
             .otherwise(F.col("partition")))

        class _T:  # tiny adapter: _ks_from_stored_digests wants .scan()
            def scan(self):
                return stored

        return em._ks_from_stored_digests(_T(), k).collect()[0]

    a, b = ks(t_stream), ks(t_batch)
    assert (a["n_new"], a["n_hist"]) == (b["n_new"], b["n_hist"])
    assert a["ks"] == b["ks"]  # bit-equal after the shared round(.,6)

    # replay: same checkpoint, second run — exactly-once no-op
    stream2 = (spark.readStream.schema(batch_df.schema)
               .option("maxFilesPerTrigger", 2).parquet(src))
    stream_digests_to_icetable(stream2, t_stream, str(tmp_path / "ck"),
                               "n_chars", "source", k=k)
    assert len(t_stream.snapshots()) == 3
    assert ks(t_stream)["ks"] == a["ks"]
