"""The north-star pipeline, end to end (capstone composition test).

One continuous-crawl validation loop, each piece of the engine in its
real role:

  day 0..N   pages ──write-audit──▶ published IceTable  (bad rows ▶ quarantine)
                │
                └─ snapshot-incremental validation (verdicts IceTable)
                └─ per-day t-digest stored (drift history, no rescans)
  new day    drift check = new-day digest vs merged stored history
  maintenance: compact + expire keeps the table scannable

Every stage here is individually pytest/oracle-verified elsewhere;
this test pins that they COMPOSE: counts conserve across audit +
quarantine, incremental validation never rescans, drift fires on the
planted DRIFT_DAY, and maintenance does not change query results.
"""

from pyspark.sql import functions as F

from json_schema_spark.compiler import compile_spec
from json_schema_spark.operators import tdigest as td
from json_schema_spark.plans.runner import ValidationRunner
from json_schema_spark.plans.write_audit import audited_append
from json_schema_spark.sources.icetable import IceTable
from tests.test_compiler import WEB_SPEC


def _ddl(df):
    return ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     for f in df.schema.fields)


def test_north_star_pipeline(spark, webpages, tmp_path):
    days = sorted(str(r[0]) for r in
                  webpages.select("warc_day").distinct().collect()
                  if r[0] is not None)
    compiled = compile_spec(WEB_SPEC, webpages)

    published = IceTable.create(spark, str(tmp_path / "pub"),
                                _ddl(webpages), ["warc_day"])
    from json_schema_spark.compiler import violations_df
    quarantine = IceTable.create(
        spark, str(tmp_path / "quar"),
        _ddl(violations_df(webpages, compiled, id_cols=["url"])), [])
    digests = IceTable.create(spark, str(tmp_path / "dig"),
                              td.DIGEST_SCHEMA, ["partition"])
    runner = ValidationRunner(spark, WEB_SPEC, str(tmp_path / "res"),
                              run_id="story")

    # ---- daily loop: audit-ingest, incremental-validate, sketch ----
    total_in = total_quar = 0
    prev_snap = None
    for day in days[:-1]:
        batch = webpages.where(F.col("warc_day") == day)
        total_in += batch.count()
        s = audited_append(published, quarantine, batch, compiled,
                           run_id=f"ing-{day}")
        total_quar += s["audit_quarantined_rows"]
        out = runner.run_snapshot_increment(published)
        assert out["partitions"] == [day]  # only the new day validated
        day_rows = (published.scan_added_since(prev_snap)
                    if prev_snap is not None else published.scan())
        prev_snap = s["snapshot_id"]
        digests.append(td.digest_by_partition(
            day_rows.where(F.col("text").isNotNull())
            .select(F.col("warc_day").cast("string").alias("d"),
                    F.length("text").cast("double").alias("len")),
            "len", "d"))

    # nothing lost: published + quarantined == ingested
    assert published.scan().count() + total_quar == total_in
    assert quarantine.scan().count() >= total_quar  # violation rows >= rows
    # published rows are clean by construction — the runner validates
    # the AUDITED table, and planted defects were quarantined, so
    # every check passes on what landed
    failing = [r["check"] for r in runner.verdicts().where("pass = false").collect()]
    assert failing == [], failing

    # ---- the drifted day arrives: history answers without rescan ----
    last = days[-1]  # tables.py plants a lang shift on DRIFT_DAY; for a
    # numeric drift signal, append the day with text lengths STRETCHED
    drifted = (webpages.where(F.col("warc_day") == last)
               .withColumn("text", F.concat("text", F.lit(" "), "text")))
    audited_append(published, quarantine, drifted, compiled,
                   run_id=f"ing-{last}")
    new_digest_rows = td.digest_by_partition(
        published.scan().where((F.col("warc_day").cast("string") == last)
                               & F.col("text").isNotNull())
        .select(F.col("warc_day").cast("string").alias("d"),
                F.length("text").cast("double").alias("len")),
        "len", "d").collect()
    hist = td.merge([td._row_to_digest(r) for r in digests.scan().collect()])
    ks_new = td.ks_between(td._row_to_digest(new_digest_rows[0]), hist)
    ctl_rows = digests.scan().collect()
    ctl = td._row_to_digest(ctl_rows[0])
    rest = td.merge([td._row_to_digest(r) for r in ctl_rows[1:]])
    ks_ctl = td.ks_between(ctl, rest)
    assert ks_new > 5 * ks_ctl and ks_new > 0.2  # drift flagged from sketches

    # ---- maintenance: layout changes, answers don't ----
    before = sorted((r["url"],) for r in published.scan()
                    .where("lang = 'en'").select("url").collect())
    n_files_before = len(published.plan_files())
    published.compact()
    published.expire_snapshots(keep_last=1)
    published.remove_orphan_files(older_than_s=0.0)
    assert len(published.plan_files()) < n_files_before
    after = sorted((r["url"],) for r in published.scan()
                   .where("lang = 'en'").select("url").collect())
    assert before == after
