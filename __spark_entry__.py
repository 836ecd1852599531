"""Driver contract for the spark-graft builder (PySpark target).

Exposes the engine's operators (SURVEY.md §2) as (spark, sf_dir) ->
DataFrame callables plus DuckDB oracle SQL for the correctness gate.

The engine itself lives in ``json_schema_spark/``; this module only
wires it to the driver-provided tables (TESTDATA.md): `documents`
(doc_id, text, lang, source, n_chars), `embeddings`
(vec_id, embedding float[64], label), `events`, and the TPC-H-ish
star schema.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import replace

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from json_schema_spark import compile_spec, verdict_df, violations_df
from json_schema_spark.operators.drift import chi2_by_partition, ks_by_partition, ks_stat
from json_schema_spark.operators.referential import referential_violations
from json_schema_spark.operators.stats import column_stats
from json_schema_spark.operators.unique import duplicate_keys
from json_schema_spark.session import local_frame

SF0001 = "/root/testdata/sf0.001"

# Constraint spec over the driver `documents` table, using the
# reference keyword vocabulary (bounds chosen so violations EXIST in
# the data: n_chars spans ~48..553).
DOC_SPEC = {
    "$id": "https://example.com/driver-documents.json",
    "draft": "draft7",
    "columns": {
        "doc_id": {"type": "integer", "minimum": 0},
        "text": {"type": "string", "minLength": 50, "maxLength": 400},
        "lang": {"enum": ["en", "de", "fr", "es"]},
        "source": {"type": "string", "pattern": "^src\\d+$"},
        "n_chars": {"minimum": 50, "maximum": 400},
    },
    "required": ["doc_id", "text", "lang", "source", "n_chars"],
}

# (column, keyword, duckdb fail-predicate) — keep in LOCKSTEP with
# DOC_SPEC; used to generate the oracle SQL for the violation queries.
_DOC_CHECKS_SQL = [
    ("doc_id", "minimum", "doc_id IS NOT NULL AND doc_id < 0"),
    ("text", "minLength", "text IS NOT NULL AND length(text) < 50"),
    ("text", "maxLength", "text IS NOT NULL AND length(text) > 400"),
    ("lang", "enum", "lang IS NOT NULL AND lang NOT IN ('en','de','fr','es')"),
    ("source", "pattern", "source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$')"),
    ("n_chars", "minimum", "n_chars IS NOT NULL AND n_chars < 50"),
    ("n_chars", "maximum", "n_chars IS NOT NULL AND n_chars > 400"),
    ("doc_id", "required", "doc_id IS NULL"),
    ("text", "required", "text IS NULL"),
    ("lang", "required", "lang IS NULL"),
    ("source", "required", "source IS NULL"),
    ("n_chars", "required", "n_chars IS NULL"),
]
# checks that compile to vacuous-true on this physical schema are
# omitted from the Spark check list too (type string/integer on
# matching physical types fold away) — EXCEPT 'type' checks that stay
# runtime-relevant; here all `type` gates are statically satisfied, so
# neither side emits them. doc_id/minimum stays (runtime check).

_ALLOWED_LANGS = ("en", "de", "fr")  # ref-check allow-list (zh+es violate)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _read(name: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    return fn


def _compiled(spark: SparkSession, sf_dir: str):
    df = _docs(spark, sf_dir)
    # `type` checks on physically-typed columns are static truths; drop
    # them from the emitted list so query output matches the oracle.
    compiled = compile_spec(DOC_SPEC, df)
    return df, replace(compiled, checks=[c for c in compiled.checks if c.keyword != "type"])


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_constraint_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full keyword-set constraint pass, per-check verdicts
    in one aggregation (SURVEY.md §2.1/§2.7)."""
    df, compiled = _compiled(spark, sf_dir)
    return verdict_df(df, compiled).select(
        F.col("column").alias("col_name"),
        F.col("keyword"),
        F.col("n_violations"),
        F.col("n_rows"),
        F.col("pass").alias("check_pass"),
    )


def q_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation rows (error-accumulation semantics: every failed
    keyword yields a row, src/validators.lisp:105-108)."""
    df, compiled = _compiled(spark, sf_dir)
    v = violations_df(df, compiled, id_cols=["doc_id"])
    return v.select(
        F.col("doc_id"),
        F.col("column").alias("col_name"),
        F.col("keyword"),
    )


def q_constraint_by_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-PARTITION pass/fail verdicts (north rule): the same single
    aggregation pass as constraint_summary, grouped by source — the
    shuffle carries |partitions| pre-aggregated rows, never the table."""
    df, compiled = _compiled(spark, sf_dir)
    return verdict_df(df, compiled, partition_col="source").select(
        F.col("partition").alias("part"),
        F.col("column").alias("col_name"),
        F.col("keyword"),
        F.col("n_violations"),
        F.col("n_rows"),
        F.col("pass").alias("check_pass"),
    )


def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-lang stats (null rate, min/max/avg, distincts)."""
    df = _docs(spark, sf_dir)
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


def q_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup stats pass: per (lang, source) + per lang + grand total
    in ONE shuffle (north_star 'single groupBy-rollup pass')."""
    df = _docs(spark, sf_dir)
    return (
        df.rollup("lang", "source")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def q_unique_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage uniqueness on (lang, n_chars): keys with >1 row
    (dataset-level uniqueItems, src/validators.lisp:632-639)."""
    df = _docs(spark, sf_dir)
    return duplicate_keys(df, ["lang", "n_chars"], salt_width=8,
                          salt_source="doc_id")


def q_ref_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential check: langs outside the allow-list dimension via
    broadcast left-anti join ($ref-miss analogue, SURVEY.md §2.4)."""
    df = _docs(spark, sf_dir)
    dim = spark.createDataFrame([(c,) for c in _ALLOWED_LANGS], ["lang_code"])
    miss = referential_violations(df, dim, key="lang", dim_key="lang_code")
    return miss.select("doc_id", "lang")


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most frequent n_chars values per lang (degenerate-column
    profile): one combinable groupBy + a window over aggregate-sized
    counts."""
    from json_schema_spark.operators.stats import heavy_hitters

    return heavy_hitters(_docs(spark, sf_dir), value="n_chars",
                         by="lang", k=3).select(
        F.col("grp").alias("lang"), F.col("value").alias("n_chars"),
        F.col("n"), F.col("rank"))


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis for the join/agg planning story
    (north rule: 'skew handled via adaptive salting on hot keys'):
    max/avg ratio and the salt-bucket count that caps the hottest
    key's per-task rows. Exact — fully oracle-checked."""
    from json_schema_spark.operators.stats import skew_report

    return skew_report(_docs(spark, sf_dir), ["lang", "source"],
                       target_rows_per_task=100)


def q_cardinality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column cardinality profile (exact side only — the HLL approx
    column is the at-scale path, asserted within 5% in pytest)."""
    from json_schema_spark.operators.stats import cardinality_profile

    return cardinality_profile(
        _docs(spark, sf_dir), ["lang", "source", "n_chars"]).select(
        "col_name", "n_distinct", "n_nulls", "n_rows")


def q_drift_chi2_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift of lang distribution per source vs pooled."""
    df = _docs(spark, sf_dir)
    return chi2_by_partition(df, "lang", "source").select(
        F.col("partition").alias("part"),
        F.col("chi2"),
        F.col("dof"),
        F.col("n_rows"),
    )


def q_drift_ks_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS of n_chars between src0 and src1."""
    df = _docs(spark, sf_dir)
    return ks_stat(df, "n_chars", "source", "src0", "src1")


def q_drift_ks_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each source's KS vs the rest from mergeable KLL sketches
    (operators/tdigest.py), sized to the exact regime (k = the row
    count, as q_tdigest_exact does): every sketch holds every value, so
    the sketch KS is the exact KS and DuckDB value-checks it with the
    drift_ks_by_partition SQL. The compacting regime is pytest-pinned
    against the exact ks_by_partition in tests/test_tdigest.py."""
    from json_schema_spark.operators.tdigest import (
        DEFAULT_K,
        digest_by_partition,
        ks_by_partition_tdigest,
    )

    docs = _docs(spark, sf_dir)
    k = max(DEFAULT_K, docs.count())
    rows = ks_by_partition_tdigest(
        digest_by_partition(docs, "n_chars", "source", k=k), k=k)
    return local_frame(
        spark, [(p, n, round(ks, 6) if ks == ks else None) for p, n, ks in rows],
        "part string, n_rows long, ks_est double")


def q_tdigest_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL sketches in their exact regime: a sketch of size k keeps
    every value while it has seen at most k, so k = the row count
    makes each per-source sketch exact (Spark accepts k <= 65535;
    sf0.1 holds 5,000 documents). Each sketch then answers, at each
    n_chars value present in that source, the inclusive rank count
    (rows with n_chars <= v) — a full DuckDB value check of the sketch
    build, the merge and the rank lookup on the value grid. The
    compacting regime is pytest-pinned in tests/test_tdigest.py."""
    from json_schema_spark.operators.tdigest import (
        DEFAULT_K,
        cdf_on_grid,
        digest_by_partition,
    )

    docs = _docs(spark, sf_dir)
    k = max(DEFAULT_K, docs.count())
    grid, parts = cdf_on_grid(
        digest_by_partition(docs, "n_chars", "source", k=k), k=k)
    # a value is present in a source where its CDF steps
    rows = [(p, v, round(f * n))
            for p, n, cdf in parts
            for v, f, prev in zip(grid, cdf, [0.0] + cdf) if f > prev]
    return local_frame(spark, rows, "part string, n_chars double, cnt_le long")


def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter summaries per source on Spark's native frequent-items
    sketch (operators/sketches.py). With m=64 the sketch tracks every
    value of the small lang domain, so its counts are EXACT, which lets
    DuckDB value-check the build, the merge and the read; the eviction
    regime is pytest-pinned in tests/test_sketches.py."""
    from json_schema_spark.operators.sketches import mg_topk, mg_topk_by_partition

    summ = mg_topk_by_partition(_docs(spark, sf_dir), "lang", "source", m=64)
    return mg_topk(summ, 64).select(
        F.col("partition").alias("part"), F.col("item").alias("lang"),
        F.col("count").alias("cnt"))


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width length histogram in TALL form (north-star "length
    histograms"): one groupBy(bucket) pass, partial-aggregable; the
    wide conditional-sum twin lives in operators/stats.column_stats."""
    docs = _docs(spark, sf_dir).where(F.col("n_chars").isNotNull())
    return (
        docs.groupBy(F.floor(F.col("n_chars") / 50).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"))
    )


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning-funnel report: how many docs survive each rule and all
    rules together — ONE aggregate (count-filters fuse into a single
    scan; no per-rule passes)."""
    d = _docs(spark, sf_dir)
    has_text = F.col("text").isNotNull() & (F.char_length("text") > 0)
    len_ok = F.col("n_chars").between(100, 20_000)
    lang_ok = F.col("lang").isin("en", "de", "fr", "es")
    return d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(has_text.cast("long")).alias("n_has_text"),
        F.sum(len_ok.cast("long")).alias("n_len_ok"),
        F.sum(lang_ok.cast("long")).alias("n_lang_ok"),
        F.sum((has_text & len_ok & lang_ok).cast("long")).alias("n_pass_all"),
    )


def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label embedding statistics with JVM-side higher-order
    array functions (F.aggregate / F.zip_with — the built-in fast path
    the ANN operators ride; no Python in the loop): L2 norm and
    self-dot aggregated per label."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dot = F.aggregate(
        F.zip_with("embedding", "embedding", lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    return (
        emb.where(F.col("embedding").isNotNull())
        .select("label", dot.alias("self_dot"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.round(F.avg(F.sqrt(F.col("self_dot"))), 6).alias("avg_norm"),
             F.round(F.max("self_dot"), 6).alias("max_self_dot"))
    )


def q_top_terms_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency table: for each whitespace token, the
    number of DOCUMENTS containing it; top 20 by df (term tie-break).
    This is the exact statistic behind the ngram max_df stop-gram
    pruning (operators/dedup.py) — explode(array_distinct(split))
    keeps the fan-out per doc bounded by its distinct-token count, and
    the groupBy(term) agg combines map-side."""
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    terms = docs.select(
        F.explode(F.array_distinct(F.split(F.col("text"), r"\s+"))).alias("term"))
    return (
        terms.where(F.col("term") != "")
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(20)
    )


def q_iceberg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents through the Iceberg-style snapshot table seam
    (sources/icetable.py: atomic commit, footer-stats manifest), then
    answer an aggregate from a PRUNED scan — value-identical to the
    same SQL on the raw table, proving prune+roundtrip lose nothing.
    The filter (source, n_chars) hits both partition pruning and
    min/max stats pruning paths."""
    import atexit
    import shutil
    import tempfile

    from json_schema_spark.sources.icetable import IceTable

    root = tempfile.mkdtemp(prefix="icetab_")
    # the returned DataFrame reads the table lazily -> clean at exit
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = IceTable.create(
        spark, root,
        "doc_id long, text string, lang string, source string, n_chars long",
        ["source"])
    t.append(_docs(spark, sf_dir))
    scanned = t.scan([("source", "in", ["src1", "src7", "src12"]), ("n_chars", ">=", 100)])
    return (
        scanned.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"),
             F.min("doc_id").alias("min_doc_id"))
    )


def q_drift_ks_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS from STORABLE KLL sketches (operators/tdigest.py): rows fold
    into per-source sketches before the shuffle, and the sketches are
    binary values persistable to the IceTable results seam for
    incremental cross-run drift. Rows-only: outside the exact regime
    the sketch CDF has no DuckDB twin; pytest pins accuracy vs the
    exact ks_by_partition and the incremental stored-sketch path."""
    from json_schema_spark.operators.tdigest import (
        digest_by_partition,
        ks_by_partition_tdigest,
    )

    digests = digest_by_partition(_docs(spark, sf_dir), "n_chars", "source")
    rows = ks_by_partition_tdigest(digests)
    return local_frame(
        spark, [(p, float(n), round(ks, 6)) for p, n, ks in rows],
        "part string, n_rows double, ks_est double",
    )


def q_drift_incremental_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-RUN incremental drift, end to end through STORAGE: write
    per-source KLL sketches to an IceTable ("history" run), append the
    sketch of a newly-arrived partition (src0) in a second commit —
    O(new partition) compute, history is never rescanned — then compute
    the two-sample KS of new-vs-history purely from the STORED
    sketches. Runs in the exact regime (k = n_rows: each sketch holds
    every value of its partition), which makes the whole
    rows -> sketch -> commit -> read-back -> KS path a full DuckDB
    value check."""
    import atexit
    import shutil
    import tempfile

    from json_schema_spark.operators.tdigest import (
        DEFAULT_K,
        DIGEST_SCHEMA,
        digest_by_partition,
    )
    from json_schema_spark.sources.icetable import IceTable

    docs = _docs(spark, sf_dir)
    k = max(DEFAULT_K, docs.count())
    root = tempfile.mkdtemp(prefix="tdig_store_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = IceTable.create(spark, root, DIGEST_SCHEMA, ["partition"])
    # run 1: sketch + store every historical partition
    t.append(digest_by_partition(docs.where(F.col("source") != "src0"),
                                 "n_chars", "source", k=k))
    # run 2 (the incremental step): only the new day is scanned
    t.append(digest_by_partition(docs.where(F.col("source") == "src0"),
                                 "n_chars", "source", k=k))

    return _ks_from_stored_digests(t, k)


def _ks_from_stored_digests(t, k: int) -> DataFrame:
    """Two-sample KS (src0 = "new" vs rest = "hist") computed purely
    from STORED sketch rows — sketches are mergeable, so any number of
    rows per partition (one per batch run, one per streaming
    micro-batch) merge to the same value multiset in the exact
    regime (at most k rows in all), where the KS is exact."""
    from json_schema_spark.operators.tdigest import ks_by_partition_tdigest

    stored = t.scan()
    sides = stored.withColumn(
        "partition", F.when(F.col("partition") == "src0", F.lit("new"))
        .otherwise(F.lit("hist")))
    got = {p: (n, ks) for p, n, ks in ks_by_partition_tdigest(sides, k)}
    (n_new, ks), (n_hist, _) = got["new"], got["hist"]
    return local_frame(stored.sparkSession, [(n_new, n_hist, round(ks, 6))],
                       "n_new long, n_hist long, ks double")


def q_stream_drift_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> IceTable -> incremental drift, ONE path (VERDICT r3
    item 8): documents arrive as a file stream in micro-batches, each
    batch folds to per-source KLL sketches committed exactly-once as
    IceTable snapshots (O(batch) compute — history is never rescanned),
    and the SAME stored-sketch KS used by drift_incremental_tdigest
    runs over the accumulated table. Exact regime (k = n rows),
    so the streaming result equals the batch rebuild bit-for-bit
    (pytest-pinned in tests/test_runner_streaming.py); rows-only here
    because the streaming sink side has no SQL twin."""
    import atexit
    import shutil
    import tempfile

    from json_schema_spark.operators.tdigest import DEFAULT_K, DIGEST_SCHEMA
    from json_schema_spark.sources.icetable import IceTable
    from json_schema_spark.streaming.incremental import (
        stream_digests_to_icetable,
    )

    docs = _docs(spark, sf_dir).where(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull())
    k = max(DEFAULT_K, docs.count())

    base = tempfile.mkdtemp(prefix="stream_drift_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    input_dir = os.path.join(base, "in")
    feed = docs.select("source", "n_chars")
    # history arrives first across several files, the new day last —
    # with maxFilesPerTrigger=2 the stream sees multiple micro-batches.
    # r6: 2 history files (not 4) — still >=2 micro-batches with the
    # new day strictly last, but one fewer sketch+commit cycle; the
    # stored sketches MERGE to the same value multiset in the
    # exact regime, so the KS output is bit-identical (the
    # streaming==batch pin in tests/test_runner_streaming.py).
    feed.where(F.col("source") != "src0").repartition(2) \
        .write.mode("overwrite").parquet(input_dir)
    feed.where(F.col("source") == "src0").coalesce(1) \
        .write.mode("append").parquet(input_dir)

    t = IceTable.create(spark, os.path.join(base, "tbl"),
                        DIGEST_SCHEMA, ["partition"])
    stream = (spark.readStream.schema(feed.schema)
              .option("maxFilesPerTrigger", 2).parquet(input_dir))
    stream_digests_to_icetable(stream, t, os.path.join(base, "ckpt"),
                               "n_chars", "source", k=k)
    return _ks_from_stored_digests(t, k)


def q_drift_psi_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the lang mix, each source vs the
    rest (production drift score; epsilon-smoothed so absent categories
    still contribute)."""
    from json_schema_spark.operators.drift import psi_by_partition

    return psi_by_partition(_docs(spark, sf_dir), "lang", "source").select(
        F.col("partition").alias("part"), F.col("psi"), F.col("n_rows"))


def q_drift_ks_by_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KS of n_chars: EVERY source partition vs the rest of the
    table, one query over the observed (source, n_chars) cells, with
    no per-partition Python loop."""
    df = _docs(spark, sf_dir)
    return ks_by_partition(df, "n_chars", "source").select(
        F.col("partition").alias("part"),
        F.col("n_rows"),
        F.col("ks"),
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (scan + filter + hash agg)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + top-N (broadcast dims)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
              orders.o_custkey == F.col("c_custkey"))
        .where(F.col("o_orderdate") < F.lit("1995-03-15"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_tpch_q4_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: EXISTS as left-semi join + agg."""
    orders = _read("orders")(spark, sf_dir)
    li = _read("lineitem")(spark, sf_dir)
    late = li.where(F.col("l_quantity") >= 25).select("l_orderkey").distinct()
    return (
        orders.where((F.col("o_orderdate") >= F.lit("1995-01-01"))
                     & (F.col("o_orderdate") < F.lit("1995-04-01")))
        .join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_tpch_q5_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 5-way join (broadcast dims) + agg."""
    cust = _read("customer")(spark, sf_dir)
    orders = _read("orders")(spark, sf_dir)
    li = _read("lineitem")(spark, sf_dir)
    supp = _read("supplier")(spark, sf_dir)
    nation = _read("nation")(spark, sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .where(cust.c_nationkey == supp.s_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-customer running order total + rank,
    top-3 orders per customer (first 50 customers for bounded output)."""
    from pyspark.sql import Window

    orders = _read("orders")(spark, sf_dir).where(F.col("o_custkey") < 50)
    w_run = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select(
            "o_custkey", "o_orderkey",
            F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_total"),
            F.row_number().over(w_rank).alias("price_rank"),
        )
        .where(F.col("price_rank") <= 3)
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: sources present in 'en' docs but not 'zh'
    (EXCEPT), plus sources in both (INTERSECT), tagged and unioned."""
    df = _docs(spark, sf_dir)
    en = df.where(F.col("lang") == "en").select("source").distinct()
    zh = df.where(F.col("lang") == "zh").select("source").distinct()
    only_en = en.exceptAll(zh).withColumn("tag", F.lit("en_only"))
    both = en.intersect(zh).withColumn("tag", F.lit("both"))
    return only_en.unionByName(both)


def q_drift_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_chars quantile vector (exact `percentile` here for
    oracle parity; the 10^12-scale variant swaps in percentile_approx —
    Spark's built-in GK/KLL-style sketch — behind the same shape)."""
    df = _docs(spark, sf_dir)
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    return (
        df.where(F.col("n_chars").isNotNull())
        .groupBy("source")
        .agg(*[
            F.round(F.expr(f"percentile(n_chars, {q})"), 4).alias(f"p{int(q*100)}")
            for q in qs
        ])
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups on text hash (empty when corpus is clean —
    the check itself is the operator)."""
    from json_schema_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir), "doc_id", "text")


def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate groups keyed by the first-3-token prefix
    fingerprint (cheap blocking key)."""
    df = _docs(spark, sf_dir)
    prefix = F.concat_ws(" ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 3))
    return (
        df.where(F.col("text").isNotNull())
        .groupBy(prefix.alias("prefix_key"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs above a low threshold."""
    from json_schema_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), "doc_id", "text",
                               n=3, threshold=0.01, max_df=5)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram CONTAINMENT pairs (Broder): the asymmetric
    subset-duplication signal symmetric Jaccard misses (a short doc
    pasted inside a long one). Shares the jaccard family's pair stage
    and stop-gram pruning (operators/dedup.py:ngram_containment_pairs)."""
    from json_schema_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(_docs(spark, sf_dir), "doc_id", "text",
                                   n=3, threshold=0.2, max_df=5)


def q_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency constraint A -> B (the consistency check
    between uniqueness and free-form columns; §2.4 family): planted
    fixture — determinant h{doc_id%13} maps to v{doc_id%13}
    consistently EXCEPT docs with doc_id%89==0 inject an 'odd' value,
    so exactly the groups containing such a doc violate. One
    partial-aggregable groupBy, no join
    (operators/referential.py:fd_violations)."""
    from json_schema_spark.operators.referential import fd_violations

    d = _docs(spark, sf_dir).select(
        F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(13))
                 .cast("string")).alias("det"),
        F.when(F.pmod(F.col("doc_id"), F.lit(89)) == 0, F.lit("odd"))
        .otherwise(F.concat(F.lit("v"),
                            F.pmod(F.col("doc_id"), F.lit(13))
                            .cast("string"))).alias("dep"),
    )
    return fd_violations(d, "det", "dep")


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components over the ngram-jaccard
    pair graph (threshold 0.4) — (node, grp) with grp = smallest doc id
    reachable, i.e. the canonical survivor per cluster.  Min-label
    propagation, one join+agg per round over the edge list."""
    from json_schema_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), "doc_id", "text",
                                n=3, threshold=0.4, max_df=5)
    return connected_components(pairs)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-aware dedup: per near-dup GROUP keep the highest-
    quality_score document (tie-break lowest doc_id), not merely the
    first-seen — the representative-selection step real pipelines run
    after grouping. Scale shape: the group labels cover only docs that
    appear in the pair graph (a small fraction of the corpus), so
    singleton docs take the cheap left-join path and only group
    members pay the per-group window; the window's shuffle key is grp,
    whose cardinality the connected-components pass already bounded."""
    from json_schema_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from json_schema_spark.operators.textstats import quality_score

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    pairs = ngram_jaccard_pairs(d, "doc_id", "text",
                                n=3, threshold=0.4, max_df=5)
    cc = connected_components(pairs)  # (node, grp) — group members only
    scored = d.select("doc_id", quality_score(F.col("text")).alias("q"))
    joined = scored.join(cc, scored["doc_id"] == cc["node"], "left")
    # split BEFORE the window: singletons (grp null — the overwhelming
    # majority at web scale) are kept unconditionally and never enter
    # the shuffle; only pair-graph members pay the per-group sort
    w = Window.partitionBy("grp").orderBy(F.desc("q"), F.asc("doc_id"))
    members = (
        joined.where(F.col("node").isNotNull())
        .select("doc_id", "grp", "q",
                (F.row_number().over(w) == 1).alias("kept"))
    )
    singletons = (
        joined.where(F.col("node").isNull())
        .select("doc_id", F.col("doc_id").alias("grp"), "q",
                F.lit(True).alias("kept"))
    )
    return members.unionByName(singletons)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (rows-only check: xxhash64 has no
    DuckDB twin)."""
    from json_schema_spark.operators.dedup import minhash_candidates

    return minhash_candidates(_docs(spark, sf_dir), "doc_id", "text",
                              n=3, k=64, bands=16)


def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with md5-derived hashes — value-checkable
    against DuckDB (unlike xxhash64): 8 signature components per doc."""
    from json_schema_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(_docs(spark, sf_dir), "doc_id", "text",
                             n=3, k=8, hash_fn="md5")
    return sig.select(
        "doc", *[F.col("sig")[i].alias(f"s{i}") for i in range(8)]
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (rows-only check)."""
    from json_schema_spark.operators.dedup import simhash64

    return (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", simhash64("text").alias("simhash"))
    )


def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit md5-token SimHash per document — same bit-sum/sign
    machinery as the xxhash64 fast path, but with a token hash DuckDB
    can compute verbatim, so the oracle value-checks it end to end."""
    from json_schema_spark.operators.dedup import simhash64

    return (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", simhash64("text", token_hash="md5", bits=60)
                .alias("simhash"))
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id<5."""
    from json_schema_spark.operators.similarity import ann_bruteforce_topk

    emb = _read("embeddings")(spark, sf_dir)
    return ann_bruteforce_topk(emb, emb.where(F.col("vec_id") < 5), k=5)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 (rows-only: the k-means coarse quantizer is
    driver-side numpy with a fixed seed — deterministic, but not
    expressible in SQL; recall vs brute force is asserted in pytest)."""
    from json_schema_spark.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    return ann_ivf_topk(emb, queries, k=5, n_lists=8, n_probe=4)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5: 12 independent hash tables
    (OR-amplification) x 6 planes + 1-bit multiprobe — tuned to
    recall >= 0.9 on these near-uniform embeddings (rows-only: the
    seeded hyperplanes are driver-side PRNG with no SQL twin; recall
    is pytest-gated AND tracked by the companion ann_lsh_recall
    query). Scale path: corpus bucketed once per table, per-query
    candidates n_tables * |corpus|/2^planes * (1+planes)."""
    from json_schema_spark.operators.similarity import ann_lsh_topk

    emb = _read("embeddings")(spark, sf_dir)
    return ann_lsh_topk(emb, emb.where(F.col("vec_id") < 5), k=5,
                        n_planes=6, n_tables=12, dim=64, seed=42)


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY metric: recall of LSH top-5 vs the exact brute-force
    top-5 over the same 5 queries — one aggregate row. Rows-only (the
    LSH side has no SQL twin) but bench-tracked so bucketing changes
    that silently hurt recall show up as a metric regression, not just
    a speedup."""
    from json_schema_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_lsh_topk,
    )

    emb = _read("embeddings")(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    exact = ann_bruteforce_topk(emb, queries, k=5) \
        .select("query_id", "neighbor_id")
    approx = ann_lsh_topk(emb, queries, k=5, n_planes=6, n_tables=12,
                          dim=64, seed=42).select("query_id", "neighbor_id")
    hit = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
            F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
        .select(
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"))
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — exact results via block-pair
    GEMM (Arrow + BLAS), the scale path for dense all-pairs work."""
    from json_schema_spark.operators.similarity import embedding_near_duplicates_gemm

    emb = _read("embeddings")(spark, sf_dir)
    return embedding_near_duplicates_gemm(emb, threshold=0.35)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang quality-score aggregate (length/alpha/punct/diversity)."""
    from json_schema_spark.operators.textstats import quality_score

    df = _docs(spark, sf_dir)
    return (
        df.where(F.col("text").isNotNull())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(quality_score(F.col("text"))), 4).alias("avg_quality"),
            F.round(F.min(quality_score(F.col("text"))), 4).alias("min_quality"),
        )
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang token statistics: whitespace + BPE-ish regex tokens."""
    from json_schema_spark.operators.textstats import regex_token_count, token_count

    df = _docs(spark, sf_dir)
    return (
        df.where(F.col("text").isNotNull())
        .groupBy("lang")
        .agg(
            F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
            F.round(F.avg(token_count(F.col("text"))), 4).alias("avg_tokens"),
            F.sum(regex_token_count(F.col("text")).cast("long")).alias("total_regex_tokens"),
        )
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization fingerprint per document (md5 of folded text)."""
    from json_schema_spark.operators.textstats import doc_fingerprint

    return (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
    )


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition signals: within-doc
    duplicate n-gram fractions (n=1/2/3/5, pure array expressions) plus
    the top-bigram mass fraction (one explode + two partial-aggregable
    groupBys). The cheap repetitive-boilerplate pre-filter every
    web-text training pipeline runs before validation."""
    from json_schema_spark.operators.quality import repetition_profile

    return repetition_profile(_docs(spark, sf_dir), "doc_id", "text", n=2)


def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span coverage (n-gram-granular exact
    substring dedup, Lee et al. 2022): per doc, the fraction of its
    trigram positions whose trigram occurs in >=1 OTHER document.
    Grams shuffle as xxhash64 BIGINTs; doc-counts per gram are two
    partial-aggregable groupBys; positions join back on the 8-byte
    hash — no all-pairs anywhere."""
    from json_schema_spark.operators.quality import duplicate_span_coverage

    return duplicate_span_coverage(_docs(spark, sf_dir), "doc_id", "text", n=3)


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span REMOVAL (the transformation
    dup_span_coverage only measures): every token covered by a trigram
    that also occurs in another document is cut in every document, and
    the survivors are reassembled in order. The dup-gram vocabulary is
    filtered to doc-count > 1 BEFORE the position join; the token mask
    is doc-local array expressions — no extra shuffle, no executor
    Python. Oracle compares the reassembled text string end-to-end."""
    from json_schema_spark.operators.quality import duplicate_span_removal

    return duplicate_span_removal(_docs(spark, sf_dir), "doc_id", "text", n=3)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction with the north rule's byte-identity
    invariant: each document is wrapped in a deterministic
    Common-Crawl-style page (head/script/style/nav/aside/footer
    boilerplate, entities encoded) and run through the tag-structural
    extractor; per lang we report docs, byte-identical extractions,
    exact char sums, and the markup-overhead ratio. The whole pipeline
    is regexp/replace Column expressions — one codegen projection + one
    partial-aggregable groupBy, no shuffle of page bodies."""
    from json_schema_spark.operators.html_extract import html_extract_report

    return html_extract_report(_docs(spark, sf_dir), "doc_id", "text", "lang")


def q_html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-filtering metadata profile over the synthetic pages:
    meta-robots noindex, rel=canonical presence, title round-trip,
    anchor counts and link density (anchor chars / extracted content
    chars from exact sums). Same Java-vs-RE2 pattern-parity seam and
    the same scale shape as html_extract: one codegen projection, one
    partial-aggregable groupBy, nothing but (lang, counters) shuffles."""
    from json_schema_spark.operators.html_extract import html_metadata_report

    return html_metadata_report(_docs(spark, sf_dir), "doc_id", "text", "lang")


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link-graph degree profile (Common Crawl web-graph
    recipe): each synthetic page carries 1-3 deterministic outbound
    cross-domain anchors (residue lattice over 7 domains); edges are
    extracted via the href regex, host-mapped, eTLD+1-collapsed, and
    degree-aggregated. The DuckDB oracle derives the SAME edges
    directly from the id lattice — an independent derivation, so a
    break anywhere in page-build/extraction/host-mapping/aggregation
    diverges. Scale shape: explode collapses immediately into a
    partial-aggregable groupBy on two short keys; page bodies never
    shuffle; the profile join runs on aggregate-sized tables."""
    from json_schema_spark.operators.html_extract import (
        degree_profile, link_edges,
    )

    docs = _lattice_link_docs(spark, sf_dir)
    return degree_profile(
        link_edges(docs, F.col("src_domain"), F.col("page")))


def _lattice_link_docs(spark: SparkSession, sf_dir: str,
                       anchor_text: bool = False) -> DataFrame:
    """Shared fixture for the link-graph family: synthetic pages whose
    nav carries 1-3 deterministic outbound cross-domain anchors
    (residue lattice over 7 domains). With ``anchor_text``, link j of
    doc i carries the two-token visible text 'w{(i+j)%11} v{(i+3j)%5}'
    — the same residue arithmetic the oracles re-derive."""
    from json_schema_spark.operators.html_extract import wrap_page_links

    i = F.col("doc_id")
    key = F.md5(F.concat(F.lit("k:"), i.cast("string")))
    domain = F.concat(F.lit("example"),
                      F.pmod(i, F.lit(7)).cast("string"), F.lit(".com"))
    seq = F.sequence(F.lit(1), F.pmod(i, F.lit(3)) + 1)
    links = F.transform(
        seq,
        lambda j: F.concat(
            F.lit("https://example"),
            F.pmod(i + j, F.lit(7)).cast("string"), F.lit(".com/d/"),
            F.md5(F.concat(F.lit("l:"), i.cast("string"),
                           F.lit(":"), j.cast("string"))),
        ),
    )
    atexts = None
    if anchor_text:
        atexts = F.transform(
            seq,
            lambda j: F.concat(
                F.lit("w"), F.pmod(i + j, F.lit(11)).cast("string"),
                F.lit(" v"), F.pmod(i + 3 * j, F.lit(5)).cast("string"),
            ),
        )
    return (_docs(spark, sf_dir).where(F.col("text").isNotNull())
            .select(i, domain.alias("src_domain"),
                    wrap_page_links(F.col("text"), key, domain, links,
                                    atexts)
                    .alias("page")))


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text term profile per target host (the
    WAT-derived anchor-corpus recipe: what OTHER sites call a page).
    Pages carry lattice-derived two-token anchor texts; hrefs and
    texts extract as two aligned regexp group captures zipped per
    match, collapse through one partial-aggregable (dst_d, term)
    groupBy, and the per-host top-5 runs the SALTED two-stage window
    (a mega-host bounded to top_m*n_salts rows per task). The oracle
    re-derives every (dst, term) pair from the residue lattice — an
    independent derivation, so a break anywhere in page-build/
    extraction/host-mapping/tokenization/ranking diverges."""
    from json_schema_spark.operators.html_extract import anchor_text_profile

    docs = _lattice_link_docs(spark, sf_dir, anchor_text=True)
    return anchor_text_profile(docs, F.col("page"), top_m=5,
                               salted=True, n_salts=8)


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution + type-
    token ratio (information-theoretic repetitiveness gate; normalized
    entropy is length-independent). Token-array size rides the explode
    (the bm25 `dl` trick) so the whole op is two partial-aggregable
    groupBys with NO doc-level join or window
    (operators/quality.py:token_entropy)."""
    from json_schema_spark.operators.quality import token_entropy

    return token_entropy(_docs(spark, sf_dir), "doc_id", "text")


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by pointwise mutual information (Church
    & Hanks 1990) — the multi-word-expression signal for tokenizer
    vocabulary curation and boilerplate phrasing. One tokenize
    projection, partial-aggregable unigram/bigram counts, vocabulary-
    sized joins, TakeOrdered top-k on rounded PMI
    (operators/vocab.py:pmi_collocations)."""
    from json_schema_spark.operators.vocab import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir), "text",
                            min_count=5, topk=50)


def q_bitext_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-parallel bitext candidate mining (ParaCrawl/CCMatrix URL
    matching): synthesize per-doc URLs whose path carries the doc's
    language segment over a shared (site, slug) residue lattice, then
    pair pages identical up to that segment. Segment detection +
    normalization are one codegen regexp projection; representatives
    are a partial-aggregable min per (key, lang); the pairing
    self-join reuses its own aggregate exchange and fans out at most
    C(|langs|,2) per key — no skew, no salt
    (operators/textstats.py:bitext_candidates). Oracle derives pairs
    straight from the residue arithmetic, never parsing URLs."""
    from json_schema_spark.operators.textstats import bitext_candidates

    d = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://site"), F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
        F.lit(".com/"), F.col("lang"), F.lit("/art/"),
        F.pmod(F.col("doc_id"), F.lit(17)).cast("string"))
    return bitext_candidates(
        d.select("doc_id", url.alias("url")), "doc_id", "url",
        langs=["de", "en", "es", "fr", "zh"],
    ).withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")


def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram score under a stupid-backoff LM (Brants et
    al. 2007 — the web-scale LM: counts + constant backoff, no
    discounting) trained on the English reference slice, hashed into
    a 4096-bucket md5 feature space so every count table is bounded
    and broadcast — the corpus never shuffles on vocabulary
    (operators/lm.py:stupid_backoff_score)."""
    from json_schema_spark.operators.lm import stupid_backoff_score

    return stupid_backoff_score(
        _docs(spark, sf_dir), "doc_id", "text",
        is_reference=F.col("lang") == "en", n_buckets=4096,
        # pinned md5: this is the ORACLE TWIN (DuckDB reproduces every
        # bucket); the operator's production default is xxhash (r6,
        # VERDICT r5 #5) — q_stupid_backoff_fast exercises it
        hash_fn="md5",
    ).withColumnRenamed("id", "doc_id")


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID audit: confusion matrix of the stopword-profile
    lang_id heuristic vs the metadata lang label (crawl metadata and
    content prediction disagree constantly — this is the standard
    audit before trusting either for filtering). Prediction is a
    per-row projection; the matrix is one partial-aggregable groupBy
    (operators/textstats.py:lang_confusion). The oracle re-implements
    the FULL argmax heuristic — per-profile hit ratios, tie-by-profile-
    order, 'und' abstention — generated from the same LANG_PROFILES
    constants."""
    from json_schema_spark.operators.textstats import lang_confusion

    return lang_confusion(_docs(spark, sf_dir), "text", "lang")


def _lang_confusion_sql() -> str:
    from json_schema_spark.operators.textstats import LANG_PROFILES

    score_exprs = []
    for lang, words in LANG_PROFILES.items():
        lst = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
        score_exprs.append(
            f"CASE WHEN len(t) > 0 THEN "
            f"len(list_filter(t, x -> x IN ({lst}))) / len(t) "
            f"ELSE 0.0 END AS s_{lang}")
    scores_sql = ",\n                     ".join(score_exprs)
    best = "greatest(" + ", ".join(
        f"s_{lang}" for lang in LANG_PROFILES) + ")"
    # Spark's lang_id resolves ties by profile order (first wins) and
    # abstains with 'und' when the best score is 0 — mirror exactly
    case = "CASE " + " ".join(
        f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'"
        for lang in LANG_PROFILES) + " ELSE 'und' END"
    return f"""
            WITH toks AS (
              SELECT lang AS label_lang,
                     CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents WHERE text IS NOT NULL),
            scored AS (
              SELECT label_lang,
                     {scores_sql}
              FROM toks),
            pred AS (
              SELECT label_lang, {case} AS pred_lang
              FROM (SELECT *, {best} AS best FROM scored)),
            cells AS (
              SELECT label_lang, pred_lang, count(*) AS n_docs
              FROM pred GROUP BY 1, 2),
            tot AS (
              SELECT label_lang, sum(n_docs) AS tot
              FROM cells GROUP BY 1)
            SELECT c.label_lang, c.pred_lang, c.n_docs,
                   round(c.n_docs / t.tot, 6) AS share,
                   (c.label_lang = c.pred_lang) AS is_match
            FROM cells c JOIN tot t USING (label_lang)
        """


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation related-host pairs over the lattice link graph
    (hosts linked by many common sources are topically related — the
    web-graph clustering signal). Distinct (src, dst) projection
    first so edge weights cannot inflate counts; both self-join sides
    are the same projection (reused exchange); the hub-source prune
    path (stop-gram rule) is pytest-covered
    (operators/html_extract.py:cocitation_pairs). Oracle re-derives
    the pair table from the residue lattice."""
    from json_schema_spark.operators.html_extract import (
        cocitation_pairs, link_edges,
    )

    docs = _lattice_link_docs(spark, sf_dir)
    edges = link_edges(docs, F.col("src_domain"), F.col("page"))
    return cocitation_pairs(edges)


def q_stupid_backoff_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 fast twin of q_stupid_backoff (the dedup-family
    fast-path recipe): identical model and plan shapes, bucket keys
    via JVM xxhash64 instead of the 5 oracle-reproducible md5s per
    position. Rows-only by nature (no SQL xxhash64 twin); pytest pins
    collision-free-bucketed == exact on a hand corpus and the driver
    row count matches the md5 twin by construction."""
    from json_schema_spark.operators.lm import stupid_backoff_score

    return stupid_backoff_score(
        _docs(spark, sf_dir), "doc_id", "text",
        is_reference=F.col("lang") == "en", n_buckets=4096,
        hash_fn="xxhash",
    ).withColumnRenamed("id", "doc_id")


def q_budget_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quality cut (FineWeb-style): the quality-score
    threshold that fills a 10k-token training budget from the top
    down, with the kept-docs/tokens/utilization audit in the same row.
    One partial-aggregable groupBy collapses the corpus to a <=1001-
    row score histogram; everything after is aggregate-sized
    (operators/sampling.py:budget_threshold)."""
    from json_schema_spark.operators.sampling import budget_threshold
    from json_schema_spark.operators.textstats import (
        quality_score, token_count,
    )

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return budget_threshold(
        d, quality_score(F.col("text")), token_count(F.col("text")),
        budget_tokens=10_000)


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding sanity gate: modified-z (MAD) outlier flags on vector
    L2 norms — the pre-ANN screen for corrupt vectors. Norm is the
    module's zip_with/aggregate JVM fast path; median and MAD are two
    single-row broadcast aggregates
    (operators/similarity.py:embedding_outliers)."""
    from json_schema_spark.operators.similarity import embedding_outliers

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_outliers(emb, "vec_id", "embedding"
                              ).withColumnRenamed("id", "vec_id")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis-Spirakis
    u^(1/w) keys, md5-derived u so the draw is deterministic and
    engine-reproducible): top-100 by n_chars weight. One codegen key
    projection + TakeOrdered — no corpus shuffle
    (operators/sampling.py:weighted_sample)."""
    from json_schema_spark.operators.sampling import weighted_sample

    return weighted_sample(
        _docs(spark, sf_dir), "doc_id", "n_chars", k=100,
    ).withColumnRenamed("id", "doc_id")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the host link graph (power iteration,
    damping 0.85, 10 iterations, uniform dangling redistribution).
    Rank table is node-cardinality; each iteration = one edges-ranks
    join + one partial-aggregable groupBy + one scalar dangling
    aggregate, lineage truncated per iteration via localCheckpoint
    (same discipline as dedup_groups). Oracle: the 10 iterations
    UNROLLED as chained DuckDB CTEs over the independently-derived
    lattice edges — full double-arithmetic value parity at 6dp."""
    from json_schema_spark.operators.html_extract import (
        link_edges, pagerank_hosts,
    )

    docs = _lattice_link_docs(spark, sf_dir)
    return pagerank_hosts(
        link_edges(docs, F.col("src_domain"), F.col("page")),
        damping=0.85, iters=10)


def q_domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed domain-reputation score: PageRank over the host link
    graph x per-domain mean text quality — the cross-operator rollup a
    crawl-selection policy ranks domains by (popularity alone keeps
    link farms; quality alone keeps orphaned pages). Both factors are
    rounded BEFORE the product, so the composite is engine- and
    partitioning-reproducible. Scale shape: the quality branch is one
    partial-aggregable groupBy on domain; the rank branch is
    pagerank_hosts on the once-checkpointed edge table; the final join
    runs on two domain-cardinality aggregates."""
    from json_schema_spark.operators.html_extract import (
        link_edges, pagerank_hosts,
    )
    from json_schema_spark.operators.textstats import quality_score

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    domain = F.concat(F.lit("example"),
                      F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
                      F.lit(".com"))
    qual = (docs.groupBy(domain.alias("domain"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg(quality_score(F.col("text"))), 4)
                 .alias("avg_quality")))
    pr = pagerank_hosts(
        link_edges(_lattice_link_docs(spark, sf_dir),
                   F.col("src_domain"), F.col("page")),
        damping=0.85, iters=10)
    return (qual.join(pr, "domain")
            .select("domain", "n_docs", "avg_quality", "pagerank",
                    F.round(F.col("pagerank") * F.col("avg_quality"), 6)
                    .alias("reputation"))
            .orderBy("domain"))


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (GPT-3-style n-gram overlap): treat
    source='src0' documents as the EVAL set and everything else as the
    TRAINING corpus; per eval doc, the fraction of trigram positions
    found anywhere in training. Training side collapses to a distinct
    BIGINT gram-hash set (one shuffle, reusable across eval sets); the
    eval side left-joins it — output linear in eval positions."""
    from json_schema_spark.operators.quality import cross_contamination

    docs = _docs(spark, sf_dir)
    eval_df = docs.where(F.col("source").eqNullSafe("src0"))
    train = docs.where(~F.col("source").eqNullSafe("src0"))
    return cross_contamination(train, eval_df, "doc_id", "text", n=3)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet / RefinedWeb-style line-level boilerplate removal: any
    line whose trimmed form occurs in >=2 distinct documents is
    dropped; surviving lines are reassembled byte-identically in
    original order. Hot-line vocabulary is a filtered two-stage
    hash-aggregate broadcast against the line explode — no shuffle of
    the corpus text beyond the one reassembly groupBy."""
    from json_schema_spark.operators.quality import line_boilerplate_dedup

    return line_boilerplate_dedup(_docs(spark, sf_dir), "doc_id", "text",
                                  min_doc_freq=2)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup via the persistent fingerprint
    ledger (operators/incremental_dedup.py): the corpus is split into 3
    deterministic crawl "snapshots" (doc_id % 3) and each is deduped
    against the LEDGER of all prior snapshots — one md5 row per distinct
    fingerprint, IceTable-partitioned by first-seen snapshot — never
    against raw history. Fingerprint = the first-4-token blocking key
    (the corpus has no exact text dups; the prefix key is the
    deterministic dup-rich surrogate, same family as dedup_prefix).
    Returns per-snapshot (n_rows, n_new_unique, n_dup_within,
    n_dup_history); incremental == one-shot global keep-first rule is
    pinned in tests/test_incremental_dedup.py."""
    import atexit
    import shutil
    import tempfile

    from json_schema_spark.operators.incremental_dedup import (
        create_dedup_ledger,
        incremental_dedup_snapshot,
    )

    key = F.concat_ws(
        " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 4))
    keyed = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", key.alias("dup_key"),
                (F.col("doc_id") % 3).cast("int").alias("snap"))
    )
    root = tempfile.mkdtemp(prefix="dedup_ledger_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    ledger = create_dedup_ledger(spark, root)
    out = None
    for s in range(3):
        stats = incremental_dedup_snapshot(
            keyed.where(F.col("snap") == s).drop("snap"),
            ledger, "doc_id", "dup_key", s)
        out = stats if out is None else out.unionByName(stats)
    return out


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot NEAR-dup via the LSH band-bucket ledger
    (operators/incremental_dedup.py): 3 crawl snapshots (doc_id % 3),
    each probing the (band, bucket) ledger of prior snapshots — the
    RefinedWeb-style "dedup against prior dumps" shape, with history
    never re-minhashed. md5-derived signatures (k=8, 4 bands) so the
    oracle reproduces every flag: a doc is a history near-dup iff some
    band's signature slice was seen in an earlier snapshot. Returns
    per-doc (snap, doc_id, n_hist_bands, is_hist_near_dup)."""
    import atexit
    import shutil
    import tempfile

    from json_schema_spark.operators.incremental_dedup import (
        create_minhash_ledger,
        incremental_minhash_snapshot,
    )

    from pyspark import StorageLevel

    from json_schema_spark.operators.dedup import (
        band_buckets,
        minhash_signatures,
    )

    docs = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", "text",
                (F.col("doc_id") % 3).cast("int").alias("snap"))
    )
    root = tempfile.mkdtemp(prefix="mh_ledger_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    ledger = create_minhash_ledger(spark, root)
    # ONE corpus-wide signature pass sliced per snapshot (r6, guide
    # §2.4) instead of a separate scan+shingle+minhash job per
    # snapshot: signatures are per-doc, so slicing the union by
    # snap = doc_id % 3 yields bit-identical banded rows, and the
    # first commit job materializes the whole pass once (lazy
    # serialized checkpoint). Ledger commits stay sequential —
    # incrementality semantics untouched.
    sig = minhash_signatures(docs.select("doc_id", "text"),
                             "doc_id", "text", n=3, k=8, hash_fn="md5")
    banded_all = (
        band_buckets(sig, 8, 4)
        .select("doc", "band", "bucket",
                (F.col("doc") % 3).cast("int").alias("snap"))
        .localCheckpoint(eager=False,
                         storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    out = None
    for s in range(3):
        flags = incremental_minhash_snapshot(
            docs.where(F.col("snap") == s).drop("snap"),
            ledger, "doc_id", "text", s, n=3, k=8, bands=4, hash_fn="md5",
            banded=banded_all.where(F.col("snap") == s))
        out = flags if out is None else out.unionByName(flags)
    return out


def q_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib-compressibility quality signal per document (boilerplate
    proxy). No JVM/SQL twin exists for deflate, so this is rows-only
    by nature; tests/test_quality.py pins the values against direct
    zlib.compress calls."""
    from json_schema_spark.operators.quality import compression_ratio

    return compression_ratio(_docs(spark, sf_dir), "doc_id", "text")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval against a fixed seed-term list
    (targeted-corpus construction / contamination forensics). The
    query-term broadcast filters the token explode BEFORE any shuffle,
    so only matching (doc, term) pairs leave the scan; corpus scalars
    and per-term dfs re-enter as broadcasts; the top-k is TakeOrdered,
    not a global sort (operators/retrieval.py)."""
    from json_schema_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), "doc_id", "text",
        query_terms=["vector", "stream", "customer", "spark"], k=15,
    ).withColumnRenamed("id", "doc_id")


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-domain quota (keep top-3 docs per source
    by n_chars): exercises the SALTED two-stage top-k — stage 1 ranks
    within (domain, md5-salt) and keeps k per bucket, bounding any
    hot domain to k*n_salts rows before the real per-domain window —
    value-identical to the naive single window the oracle runs
    (operators/sampling.py:per_domain_cap)."""
    from json_schema_spark.operators.sampling import per_domain_cap

    return per_domain_cap(
        _docs(spark, sf_dir), "source", k=3,
        order_by=[F.desc("n_chars"), F.asc("doc_id")],
        salt_key="doc_id", n_salts=8,
    ).select("doc_id", "source", "n_chars", "rank_in_domain")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the lang='en' slice over a
    4096-bucket hashed unigram feature space — the SCALE variant,
    where the per-feature log-ratio table is bounded and broadcast so
    the corpus never shuffles on vocabulary. md5 bucketing keeps every
    weight oracle-reproducible (operators/sampling.py:dsir_weights)."""
    from json_schema_spark.operators.sampling import dsir_weights

    return dsir_weights(
        _docs(spark, sf_dir), "doc_id", "text",
        is_target=F.col("lang") == "en", alpha=1.0, n_buckets=4096,
    ).withColumnRenamed("id", "doc_id")


SEMDEDUP_SEED = 7
# 32 clusters at this corpus size: the within-cluster pairwise cost is
# sum(cluster_size^2) — under-clustering is the operator's documented
# failure mode (8 clusters measured 6.8 s at sf0.1; 32 bounds the
# self-join fan-out 4x lower while sf0.01 still yields a non-trivial
# dup set)
SEMDEDUP_CLUSTERS = 32
SEMDEDUP_THRESHOLD = 0.35


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: fixed
    seeded unit centroids (components rounded to 6dp so the SQL-literal
    round trip is exact), cluster assignment as a pure codegen column
    expression (zero shuffle, no explode), within-cluster cosine >=
    0.35 marks the higher-centroid-similarity member a duplicate
    (operators/similarity.py:semdedup). Emits every row with its
    cluster, centroid similarity, and is_dup verdict."""
    from json_schema_spark.operators.similarity import (
        seeded_unit_centroids, semdedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = seeded_unit_centroids(64, SEMDEDUP_CLUSTERS, seed=SEMDEDUP_SEED)
    return semdedup(
        emb, cents, threshold=SEMDEDUP_THRESHOLD,
    ).withColumnRenamed("id", "vec_id")


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021 A1.1) per document:
    word count / mean word length / symbol ratio / bullet + ellipsis
    line fractions / alpha-word fraction / stopword presence, plus the
    combined verdict (operators/quality.py:gopher_rules). min_stopwords
    relaxed to 1 here because the synthetic corpus vocabulary caps
    distinct stopwords at 1 — the published default (2) would make the
    verdict constant-false and hash-trivial."""
    from json_schema_spark.operators.quality import gopher_rules

    return gopher_rules(
        _docs(spark, sf_dir), "doc_id", "text", min_stopwords=1,
    ).withColumnRenamed("id", "doc_id")


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source-mixing rates (mT5 recipe, tau=0.7)
    over the documents table, massed by characters: one combinable
    groupBy, aggregate-sized windows, keep_rate feeds
    stratified_sample's broadcast rate table
    (operators/sampling.py:temperature_mix_rates)."""
    from json_schema_spark.operators.sampling import temperature_mix_rates

    return temperature_mix_rates(
        _docs(spark, sf_dir), "source", tau=0.7, weight=F.col("n_chars"),
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM perplexity (Wenzek et al. 2020) with the
    lang='en' slice as the reference corpus, over a 4096-bucket hashed
    feature space — the SCALE variant, where both LM tables are
    bounded and broadcast so the corpus never shuffles on vocabulary;
    md5 bucketing keeps every score oracle-reproducible
    (operators/lm.py:bigram_lm_perplexity)."""
    from json_schema_spark.operators.lm import bigram_lm_perplexity

    return bigram_lm_perplexity(
        _docs(spark, sf_dir), "doc_id", "text",
        is_reference=F.col("lang") == "en", alpha=1.0, n_buckets=4096,
    ).withColumnRenamed("id", "doc_id")


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4): per
    language, docs are bucketed by bigram-LM perplexity into thirds —
    the knob CCNet tunes to trade data quality against volume. Scale
    shape: cutoffs come from a per-(lang, rounded-perplexity) HISTOGRAM
    (aggregate-sized) with a cumulative window over histogram rows
    only, then broadcast back for a comparison-based assignment — the
    corpus is never globally sorted and never enters an ntile window,
    which is what survives 10^12 rows. Bucket granularity is the 0.01
    perplexity rounding (CCNet itself uses sample-estimated cutoffs).
    Docs with <2 tokens (undefined perplexity) are dropped, matching
    CCNet."""
    from json_schema_spark.operators.lm import bigram_lm_perplexity

    d = _docs(spark, sf_dir)
    ppl = bigram_lm_perplexity(
        d, "doc_id", "text",
        is_reference=F.col("lang") == "en", alpha=1.0, n_buckets=4096,
    ).withColumnRenamed("id", "doc_id")
    # lazy checkpoint (r6, guide §7.2): j feeds BOTH the cutoff
    # histogram and the final assignment join — without the barrier
    # Catalyst inlines the whole LM-scoring subtree (explode + md5
    # bucketing + count-table joins) into each branch and the corpus
    # is scored TWICE per run (plan audit: the scoring chain's
    # Generate/bucket-join subtree appeared 2x — 16 Generate nodes,
    # 46 exchanges — in the executed plan; behind the barrier it
    # executes once). Materializes ~20 bytes/row, linear.
    j = (
        d.select("doc_id", "lang")
        .join(ppl.where(F.col("perplexity").isNotNull()), "doc_id")
        .select("doc_id", "lang", "perplexity")
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    hist = j.groupBy(
        "lang", F.round("perplexity", 2).alias("pv")).agg(
        F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy("lang").orderBy("pv")
    cum = (
        hist.withColumn("cumc", F.sum("c").over(w_cum))
        .withColumn("n", F.sum("c").over(Window.partitionBy("lang")))
    )
    cuts = cum.groupBy("lang").agg(
        F.min(F.when(3 * F.col("cumc") >= F.col("n"),
                     F.col("pv"))).alias("cut1"),
        F.min(F.when(3 * F.col("cumc") >= 2 * F.col("n"),
                     F.col("pv"))).alias("cut2"),
    )
    pv = F.round("perplexity", 2)
    return j.join(F.broadcast(cuts), "lang").select(
        "doc_id", "lang", "perplexity",
        F.when(pv <= F.col("cut1"), F.lit("head"))
        .when(pv <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail")).alias("ppl_bucket"))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed bag-of-ngrams linear quality scorer
    (Joulin et al. 2017; the gate CCNet/RefinedWeb/FineWeb put in
    front of training corpora), 4096-bucket md5 feature space with the
    deterministic placeholder weights — the identical zero-shuffle
    inference plan a trained weight map would run
    (operators/classifier.py:hashed_linear_score)."""
    from json_schema_spark.operators.classifier import hashed_linear_score

    return hashed_linear_score(
        _docs(spark, sf_dir), "doc_id", "text", n_buckets=4096,
    ).withColumnRenamed("id", "doc_id")


def _c4_derived_text() -> F.Column:
    """The synthetic corpus is single-line, punctuation-free word
    salad, which would make every C4 line rule constant-false; derive
    a deterministic line structure instead (5-word sentences via one
    regexp_replace, plus seeded marker lines on a doc_id modulus) —
    same precedent as the multimodal query's synthetic binary column.
    The oracle applies the identical derivation in DuckDB."""
    lined = F.regexp_replace(F.col("text"), r"((?:\S+ ){4}\S+) ", "$1.\n")
    return F.concat(
        lined,
        F.when(F.col("doc_id") % 17 == 0,
               F.lit("\nlorem ipsum dolor")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 23 == 0,
               F.lit("\nenable javascript and accept { cookies }"))
        .otherwise(F.lit("")),
    )


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page/line heuristics (Raffel et al. 2020 §2.2) over the
    derived line-structured text: terminal-punctuation + >=5-words
    line keeps, >=3 kept lines per page, brace / lorem-ipsum /
    javascript-line page drops (operators/quality.py:c4_rules)."""
    from json_schema_spark.operators.quality import c4_rules

    docs = _docs(spark, sf_dir).withColumn("text", _c4_derived_text())
    return c4_rules(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


def q_multimodal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column pipeline as a driver query (VERDICT r4
    next #7): documents gain a deterministic synthetic BINARY column
    (magic-byte prefix chosen by doc_id + the utf-8 text payload —
    the media bytes themselves are opaque to the engine, which is the
    point), profiled JVM-side via magic-byte dispatch
    (operators/multimodal.binary_meta) and featurized through the
    Arrow-batched mapInPandas decoder plumbing (extract_features; the
    deterministic md5-chained fake featurizer in this container).
    Rows-only: the featurizer has no SQL twin; the decode plumbing and
    both decoder branches are value-pinned in tests/test_pipeline_ops.
    Output: one row per detected media kind with byte/hash/feature
    roll-ups."""
    from json_schema_spark.operators.multimodal import (
        binary_meta, extract_features,
    )

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull()) \
                               .select("doc_id", "text")
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.unhex(F.lit("89504E47")))  # png
        .when(F.col("doc_id") % 4 == 1, F.unhex(F.lit("FFD8FFE0")))   # jpeg
        .when(F.col("doc_id") % 4 == 2, F.unhex(F.lit("494433AA")))   # mp3
        .otherwise(F.unhex(F.lit("00112233")))                        # unknown
    )
    blobs = docs.select(
        "doc_id", F.concat(magic, F.encode(F.col("text"), "utf-8")).alias("blob"))
    meta = blobs.select("doc_id", binary_meta(F.col("blob")).alias("m"))
    feats = extract_features(blobs, "doc_id", "blob", n_dims=8)
    return (
        meta.join(feats, meta["doc_id"] == feats["id"])
        .groupBy(F.col("m.kind").alias("kind"), "decoder")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("m.n_bytes").alias("total_bytes"),
            F.countDistinct("m.content_md5").alias("n_distinct_blobs"),
            F.round(F.avg(F.element_at("features", 1)), 6).alias("avg_f0"),
        )
        .orderBy("kind")
    )


def q_stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-micro-batch stateful dedup as a driver query (VERDICT r4
    next #7): documents arrive as a file stream in >=2 micro-batches —
    the second deliberately replays a slice of the first — and
    applyInPandasWithState (streaming/stateful.py) emits each text
    hash exactly once, suppressing later-batch duplicates through the
    state store. Rows-only: stateful streaming has no SQL twin; the
    per-hash emission semantics (min-id survivor, cross-batch
    suppression) are value-pinned in tests/test_runner_streaming.
    Output: one summary row of batch-order-INDEPENDENT aggregates
    (each hash emits exactly once whichever batch carries it first)."""
    import atexit
    import shutil
    import tempfile

    from json_schema_spark.streaming.stateful import (
        streaming_dedup_first_seen,
    )

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull()) \
                               .select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="stream_dedup_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    src = os.path.join(base, "in")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    # replay slice: cross-batch duplicates by construction
    docs.orderBy("doc_id").limit(100).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    name = "dedup_" + os.path.basename(base).replace("stream_dedup_", "")
    # state-store width sized to the KEY VOLUME, capped by the session's
    # configured parallelism (r6, guide §2): each state partition is a
    # provider instance with fixed per-batch open/commit/maintenance
    # cost, so width targets >=50k keys per partition instead of
    # spinning the session's full width for a small corpus. The dedup
    # rule is keyed per text-hash, so the emitted rows are identical at
    # any width; this query creates a fresh checkpoint every run, so
    # the width is free to scale with the input.
    n_docs = docs.count()
    sp_before = spark.conf.get("spark.sql.shuffle.partitions")
    state_p = max(8, min(int(sp_before), n_docs // 50_000))
    spark.conf.set("spark.sql.shuffle.partitions", str(state_p))
    try:
        q = (streaming_dedup_first_seen(stream, "doc_id", "text")
             .writeStream.format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(base, "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sp_before)
    n_input = n_docs + 100  # original corpus + the replay slice
    return spark.table(name).agg(
        F.lit(n_input).cast("long").alias("n_input"),
        F.count(F.lit(1)).alias("n_emitted"),
        (F.lit(n_input) - F.count(F.lit(1))).cast("long")
        .alias("n_suppressed"),
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget sequence packing roll-up: documents hash
    into shards (md5 bucket, partitioning-independent) and fill
    contiguous budget windows in id order — one window + one aggregate
    per shard, all shards parallel. The padding-waste report a
    pretraining packing run is judged by."""
    from json_schema_spark.operators.packing import pack_summary

    return pack_summary(_docs(spark, sf_dir), "doc_id", "text",
                        budget=256, n_shards=8)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII scan + redaction digest: regexp_count per
    pattern (email/phone/ipv4/ssn, Java∩RE2 subset so the oracle runs
    the identical regexes) and md5 of the redacted text. On PII-free
    rows the digest doubles as a byte-identity check of the text
    passthrough (the north rule's byte-identical-text invariant)."""
    from json_schema_spark.operators.quality import pii_counts, pii_redact

    df = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    c = F.col("text")
    counts = pii_counts(c)
    total = None
    for _, cnt in counts:
        total = cnt if total is None else total + cnt
    return df.select(
        "doc_id",
        *[cnt.cast("long").alias(f"n_{k}") for k, cnt in counts],
        total.cast("long").alias("n_pii"),
        F.md5(pii_redact(c)).alias("redacted_md5"),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-lang hash sampling (rebalancing holdout carve:
    same (key, seed, rate) selects the same rows on ANY partitioning or
    engine — the oracle reproduces the md5 decision verbatim)."""
    from json_schema_spark.operators.sampling import stratified_sample

    rates = {"en": 0.25, "de": 0.5, "fr": 1.0}
    return stratified_sample(
        _docs(spark, sf_dir), key="doc_id", stratum="lang",
        rates=rates, default_rate=0.1, seed=7,
    ).select("doc_id", "lang")


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shard plan (stable global shuffle
    as (shard_id, pos) rows): content-keyed md5 order, hash-mod shard
    assignment (no global sort), per-shard parallel ranking — the
    oracle recomputes the identical plan from the same md5 bytes."""
    from json_schema_spark.operators.sampling import shard_plan

    return shard_plan(
        _docs(spark, sf_dir), key="doc_id", n_shards=8, seed=42,
    ).select("doc_id", "shard_id", "pos")


def q_encoding_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-artifact signals (mojibake digraphs, U+FFFD, stray C0
    controls — the ftfy/CCNet broken-bytes gate). The synthetic corpus
    is clean, so deterministic artifacts are injected per doc_id
    residue (both engines derive the identical damaged text); counts
    are pure regexp_count in the Java-and-RE2 common subset."""
    from json_schema_spark.operators.textstats import encoding_artifact_counts

    moji = " caf\u00c3\u00a9 \u00e2\u0080\u0099ok\u00e2\u0080\u009d"
    repl = " \ufffd\ufffd"
    ctrl = " \u0001\u0002"
    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(moji)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(repl)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(ctrl)).otherwise(F.lit("")),
        ).alias("t"),
    )
    stats = encoding_artifact_counts(F.col("t"))
    return df.select("doc_id", *[c.alias(n) for n, c in stats.items()])


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization: synthesize a messy URL per doc (mixed-case
    scheme/host, default port, fragment) and emit its canonical dedup
    key — the rules are pure regexp so the oracle reproduces them
    byte-for-byte."""
    from json_schema_spark.operators.textstats import canonical_url

    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://ExAmple.COM:443/"), F.col("lang"),
            F.lit("/doc/"), F.col("doc_id").cast("string"),
            F.lit("?q=1#Section-"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return df.select("doc_id", canonical_url(F.col("url")).alias("curl"))


# UT1-style domain blocklist for the url_domain_filter query — tiny
# here, but applied through the broadcast-join path a 4M-domain real
# blocklist would take.
_DOMAIN_BLOCKLIST = ["src1.com", "src7.co.uk", "src4.net", "badsite.org"]


def q_url_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) extraction + domain blocklist gate —
    the RefinedWeb/FineWeb URL-filtering stage. Synthesizes a messy URL
    per doc (mixed-case scheme/subdomain, userinfo on doc_id%7,
    explicit port on doc_id%2, multi-label public suffixes on
    doc_id%5), extracts the lowercase host, maps it to its eTLD+1 via
    the vendored PSL subset (textstats.MULTI_LABEL_SUFFIXES), and flags
    blocklisted domains through a broadcast left join. Host/eTLD+1 are
    pure-regexp/codegen projections; only the broadcast of the (small)
    blocklist leaves the scan, so at 10^12 rows this is shuffle-free."""
    from json_schema_spark.operators.textstats import domain_blocklist_flag

    d = _docs(spark, sf_dir)
    sub = F.element_at(
        F.array(F.lit("WWW."), F.lit("cdn."), F.lit("")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    suf = F.element_at(
        F.array(F.lit("com"), F.lit("co.uk"), F.lit("org"),
                F.lit("com.au"), F.lit("net")),
        (F.col("doc_id") % 5 + 1).cast("int"))
    url = F.concat(
        F.lit("HTTP://"),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("user:pw@")).otherwise(F.lit("")),
        sub, F.col("source"), F.lit("."), suf,
        F.when(F.col("doc_id") % 2 == 0,
               F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"), F.col("doc_id").cast("string"))
    blocked = spark.createDataFrame(
        [(b,) for b in _DOMAIN_BLOCKLIST], "domain string")
    return domain_blocklist_flag(
        d.select("doc_id", url.alias("url")), "url", blocked,
    ).select("doc_id", "host", "reg_domain", "blocked")


def q_events_json_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-JSON validation on events.props against
    {required:[k], properties:{k:{type:integer, minimum:0, maximum:50}}}
    — the get_json_object/JVM path (no UDF); per-event_type counts."""
    ev = _read("events")(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k")
    k_int = k.try_cast("long")
    ok = (
        k.isNotNull()                       # required
        & k_int.isNotNull()                 # type: integer
        & (k_int >= 0) & (k_int <= 50)      # minimum / maximum
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~ok).cast("long")).alias("n_violations"),
        )
    )


def q_events_json_validate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-shape JSON validation with FULL reference semantics
    (type gating, additionalProperties, error accumulation) via the
    Arrow-batched pandas-UDF validator — the sanctioned slow path for
    documents whose shape no typed column can carry."""
    from json_schema_spark.pyvalidator import validate_json_udf

    schema = {
        "type": "object",
        "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 50}},
        "additionalProperties": False,
    }
    ev = _read("events")(spark, sf_dir)
    udf = validate_json_udf(schema, draft="draft7")
    return (
        ev.select("event_type", udf(F.col("props")).alias("r"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("r.valid")).cast("long")).alias("n_violations"),
        )
    )


def q_events_json_validate_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same full-semantics dynamic-JSON validation as
    ``events_json_validate_full``, but compiled to native VARIANT
    expressions (compiler_variant.py) — zero executor Python. The
    pandas-UDF twin above is the semantic baseline; a pytest pins the
    two paths row-equal, and bench.py times them side by side.

    NB: rows-only for the driver (all 50 oracle slots taken —
    test_driver_contract.py caps oracled entries at the sample window);
    value-checked in pytest BOTH row-equal to the oracled UDF twin and
    directly vs DuckDB (tests/test_compiler_variant.py).
    """
    from json_schema_spark.compiler_variant import validate_variant_column

    schema = {
        "type": "object",
        "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 50}},
        "additionalProperties": False,
    }
    ev = _read("events")(spark, sf_dir)
    ok = validate_variant_column(F.col("props"), schema, draft="draft7")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~ok).cast("long")).alias("n_violations"),
        )
    )


def q_events_json_verdicts_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-KEYWORD verdict rows for dynamic JSON on the VARIANT path
    (compiler_variant.variant_verdict_df): the north rule's
    per-partition pass/fail shape — (partition, keyword) granular, the
    same output schema as the typed-column ``constraint_by_partition``
    — over a column no typed schema can carry, zero executor Python.
    The JSON parses ONCE per row (shared parsed-variant column) no
    matter how many keywords the spec declares.

    Rows-only for the driver (oracle slots capped at the 50-query
    sample window); value-checked directly vs a DuckDB per-keyword
    twin in tests/test_variant_verdicts.py.
    """
    from json_schema_spark.compiler_variant import variant_verdict_df

    schema = {
        "type": "object",
        "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 50}},
        "additionalProperties": False,
    }
    ev = _read("events")(spark, sf_dir)
    out = variant_verdict_df(ev, "props", schema, draft="draft7",
                             partition_col=F.col("event_type"))
    return out.select(
        F.col("partition").alias("part"),
        F.col("column").alias("col_name"),
        F.col("keyword"),
        F.col("n_violations"),
        F.col("n_rows"),
        F.col("pass").alias("check_pass"),
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) summarized per
    session: one shuffle on user, two windows over one sort."""
    from json_schema_spark.operators.textstats import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    s = sessionize(ev, "user_id", "ts", gap_minutes=30)
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks): each click event picks up the
    latest prior view's value for the same user — union + one window
    over one (user, ts) sort, zero pair fan-out.  DuckDB oracle uses
    its native ASOF JOIN."""
    from json_schema_spark.operators.joins import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    clicks = ev.where(F.col("event_type") == "click") \
        .select("ts", "user_id", "event_id")
    views = ev.where(F.col("event_type") == "view") \
        .select("ts", "user_id", F.col("value").alias("view_value"))
    out = asof_join(clicks, views, on="ts", by="user_id",
                    right_cols=["view_value"])
    return out.select("event_id", "user_id",
                      F.round(F.col("view_value_r"), 2).alias("prior_view_value"))


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operator Spark lacks): documents bucketed into
    OVERLAPPING char-length bands via interval bucketization + hash
    join + exact re-verify (no nested-loop fan-out); the oracle is a
    plain inequality join."""
    from json_schema_spark.operators.joins import range_join

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    bands = spark.range(0, 12).select(
        (F.col("id") * 50).alias("lo"),
        (F.col("id") * 50 + 75).alias("hi"),
        F.concat(F.lit("band"), F.col("id").cast("string")).alias("band"),
    )
    out = range_join(docs, bands, point="n_chars", lo="lo", hi="hi")
    return out.select("doc_id", "band")


def q_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning pipeline (the composition a training
    pipeline actually runs): quality filter -> exact-dedup survivor
    (min doc_id per content hash) -> deterministic per-lang sampling.
    Every stage is engine-native and the WHOLE composition is
    value-checked against one DuckDB query."""
    from json_schema_spark.operators.sampling import stratified_sample
    from json_schema_spark.operators.textstats import quality_score
    from pyspark.sql import Window

    df = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    good = df.where(quality_score(F.col("text")) >= 0.5)  # already rounds to 6
    w = Window.partitionBy(F.md5(F.col("text")))
    surv = (
        good.withColumn("__keep", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("__keep")).drop("__keep")
    )
    out = stratified_sample(surv, key="doc_id", stratum="lang",
                            rates={"en": 0.5, "de": 0.5, "fr": 1.0},
                            default_rate=0.25, seed=11)
    return out.select("doc_id", "lang")


def q_pipeline_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL web-curation pipeline, raw crawl page -> training-shard
    assignment, as ONE composed job (the RefinedWeb/FineWeb recipe over
    the round-5 operator family): each doc is wrapped in its synthetic
    Common-Crawl page (deterministic encoding damage injected per
    doc_id residue BEFORE wrapping), run through the tag-structural
    HTML->text extractor, then the encoding-artifact gate, the
    quality-score gate, exact dedup (min doc_id per content hash), the
    per-domain quota, and md5-derived shard assignment.

    The DuckDB twin never parses HTML: it derives every stage from
    `text` directly, so the compare passes ONLY if extraction returned
    every byte unchanged through the whole composition — the north
    rule's byte-identity invariant stated over the entire pipeline, not
    just the extraction stage (reference discipline: validation must
    never alter the bytes it reports on; the reference validates
    documents it is handed, validators.lisp keyword dispatch — this is
    the upstream that hands them over).

    Scale shape: extraction is one codegen projection, then a LAZY
    localCheckpoint materializes (doc_id, lang, domain, text) — the
    WET-file stage boundary every real crawl pipeline has anyway, and
    here also a required optimizer barrier: without it Catalyst's
    predicate pushdown inlines the whole wrap+extract expression tree
    into the gate Filter SIX times (measured: extraction ran ~7x per
    row and the fused stage blew janino's 64 KB method limit into
    interpreted fallback; the barrier is a 3x wall win at sf0.1,
    2.1 s -> 0.7 s). Gates+hash then run over the checkpointed rows;
    the dedup window shuffles only (doc_id, lang, domain, hash,
    n_chars) — page bodies never reach an exchange; the domain quota
    rides WindowGroupLimit (k rows per key of task heap); shard
    assignment is a pure projection. One wide scan, one bounded
    materialization, two narrow shuffles, at 10^12 rows."""
    from json_schema_spark.operators.html_extract import (
        extract_text, wrap_page,
    )
    from json_schema_spark.operators.sampling import per_domain_cap
    from json_schema_spark.operators.textstats import (
        encoding_artifact_counts, quality_score,
    )

    i = F.col("doc_id")
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # deterministic damage BEFORE wrapping: the gate must reject these
    # docs from the extracted text, proving damage survives extraction
    # byte-for-byte too (same digraph family as q_encoding_artifacts)
    raw = F.concat(
        F.col("text"),
        F.when(i % 13 == 0,
               F.lit(" caf\u00c3\u00a9")).otherwise(F.lit("")),
        F.when(i % 17 == 0, F.lit(" \ufffd")).otherwise(F.lit("")),
    )
    key = F.md5(F.concat(F.lit("k:"), i.cast("string")))
    domain = F.concat(F.lit("src"), F.pmod(i, F.lit(11)).cast("string"),
                      F.lit(".com"))
    pages = d.select(i, "lang", domain.alias("domain"),
                     wrap_page(raw, key, domain).alias("page"))
    # WET stage: extracted text materialized ONCE (lazy checkpoint =
    # optimizer barrier; see docstring — without it the gate Filter
    # pushes below this projection and re-runs extraction per gate)
    ext = pages.select(
        "doc_id", "lang", "domain",
        extract_text(F.col("page")).alias("t"),
    ).localCheckpoint(eager=False)
    enc = encoding_artifact_counts(F.col("t"))
    narrow = (
        ext.where(enc["is_clean"] & (quality_score(F.col("t")) >= 0.5))
        .select("doc_id", "lang", "domain", F.md5("t").alias("h"),
                F.char_length("t").alias("n_chars_kept"))
    )
    w = Window.partitionBy("h")
    surv = (
        narrow.withColumn("__keep", F.min("doc_id").over(w))
        .where(i == F.col("__keep")).drop("__keep", "h")
    )
    capped = per_domain_cap(
        surv, "domain", k=200,
        order_by=[F.desc("n_chars_kept"), F.asc("doc_id")])
    shard = F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.lit("shard:"), i.cast("string"))), 1, 15),
            16, 10).cast("long"),
        F.lit(8))
    return capped.select("doc_id", "lang", "domain", "rank_in_domain",
                         shard.alias("shard"), "n_chars_kept")


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC segment ingestion (sources/warc.py) — the raw Common Crawl
    stage upstream of html_extract's WET stage: each doc's synthetic
    page becomes a WARC/1.0 response record (Content-Length in BYTES),
    records are assembled into multi-record segment strings (fixture
    direction), and the Arrow-batched Content-Length-arithmetic parser
    recovers every record. Output is one row per recovered record with
    md5/char-count of the payload; the oracle rebuilds the SAME page
    from `text` in SQL and predicts every field, so a single flipped
    payload byte — or a parser fooled by payloads containing fake WARC
    headers — diverges. Scale shape: parse is one mapInPandas over
    segment rows, zero shuffle, no regex over payload bytes; the one
    groupBy here belongs to the synthesis fixture, not the read path."""
    from json_schema_spark.operators.html_extract import wrap_page
    from json_schema_spark.sources.warc import (
        assemble_segments, parse_warc_records, warc_record,
    )

    i = F.col("doc_id")
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    key = F.md5(F.concat(F.lit("k:"), i.cast("string")))
    domain = F.concat(F.lit("src"), F.pmod(i, F.lit(11)).cast("string"),
                      F.lit(".com"))
    uri = F.concat(F.lit("https://"), domain, F.lit("/d/"),
                   i.cast("string"))
    rec_id = F.concat(F.lit("<urn:md5:"), key, F.lit(">"))
    payload = wrap_page(F.col("text"), key, domain)
    recs = d.select(i, warc_record(payload, uri, rec_id).alias("rec"))
    segs = assemble_segments(recs, F.floor(i / 8).cast("long"), i)
    parsed = parse_warc_records(segs)
    return parsed.select(
        "chunk_id", "rec_seq", "warc_type", "uri", "rec_id",
        "content_length", F.md5("payload").alias("payload_md5"),
        F.char_length("payload").alias("payload_chars"))


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window=64, overlap=16) — the
    RAG/long-context complement to sequence_packing: every chunk
    boundary and every chunk's content md5 value-checked against a
    DuckDB re-derivation. Pure codegen projection (tokens materialized
    once, one sequence + posexplode), ZERO shuffle
    (operators/packing.chunk_tokens)."""
    from json_schema_spark.operators.packing import chunk_tokens

    return (
        chunk_tokens(_docs(spark, sf_dir), "doc_id", "text",
                     window=64, overlap=16)
        .withColumnRenamed("id", "doc_id")
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt crawl-politeness verdicts (operators/robots.py):
    per-host robots text is PARSED by the engine (posexplode lines +
    running last-User-agent window — sequential state as a window, no
    UDF) and applied longest-match (Allow beats Disallow on ties,
    agent scoping honored: the other-bot Disallow-/ group must NOT
    leak into the '*' rules). The oracle never parses robots — it
    derives every verdict from the residue lattice arithmetic, so a
    break anywhere in parse/scope/match/tie-break diverges. Scale
    shape: rules aggregate to a broadcast-sized per-host array table;
    the corpus side is ONE broadcast hash join + a higher-order
    filter/array_max — zero shuffles of the 10^12-row side."""
    from json_schema_spark.operators.robots import (
        parse_robots, robots_verdict,
    )

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    h = F.pmod(i, F.lit(11))
    host = F.concat(F.lit("src"), h.cast("string"), F.lit(".com"))
    r = F.pmod(i, F.lit(5))
    path = (
        F.when(r == 0, F.concat(F.lit("/private"), h.cast("string"),
                                F.lit("/x/"), i.cast("string")))
        .when(r == 1, F.concat(F.lit("/private"), h.cast("string"),
                               F.lit("/public/"), i.cast("string")))
        .when(r == 2, F.concat(F.lit("/tmp/keep/"), i.cast("string")))
        .when(r == 3, F.concat(F.lit("/tmp"), i.cast("string")))
        .otherwise(F.concat(F.lit("/ok/"), i.cast("string")))
    )
    urls = d.select(i, host.alias("host"), path.alias("path"))
    hh = F.col("id")
    # numPartitions=1: an 11-row fixture fanned over default
    # parallelism makes a 32-task stage of empties (and a 13x phantom
    # "straggler" in stage metrics); the rule side is tiny by design
    robots = spark.range(0, 11, 1, 1).select(
        F.concat(F.lit("src"), hh.cast("string"), F.lit(".com"))
        .alias("host"),
        F.concat(
            F.lit("# synthetic robots\n"
                  "User-agent: other-bot\nDisallow: /\n\n"
                  "User-agent: *\nDisallow: /private"),
            hh.cast("string"),
            F.lit("/\nAllow: /private"), hh.cast("string"),
            F.lit("/public/\nDisallow: /tmp\n"),
            F.when(hh % 2 == 0,
                   F.lit("Allow: /tmp/keep\n")).otherwise(F.lit("")),
        ).alias("robots"),
    )
    rules = parse_robots(robots)
    return robots_verdict(urls, rules).select(
        "doc_id", "host", "path", "matched_len", "allowed")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl content diff (incremental_dedup.snapshot_diff):
    two snapshots derived deterministically from documents — OLD drops
    the 10-residue docs, NEW drops the 9-residue docs and mutates the
    7-residue texts — so every status (added/removed/changed/unchanged)
    and the null-content edge (NULL text present in both = unchanged,
    via eqNullSafe + explicit presence markers) is exercised. Output
    is the per-(lang is not carried — key-level) status rollup:
    status, n, total char delta. Scale shape: both sides project to
    (key, md5, chars) BEFORE the one full-outer join — content never
    shuffles; the rollup is partial-aggregable."""
    from json_schema_spark.operators.incremental_dedup import snapshot_diff

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    old = d.where(i % 10 != 0).select("doc_id", "text")
    new = d.where(i % 9 != 0).select(
        "doc_id",
        F.when((i % 7 == 0) & F.col("text").isNotNull(),
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"))
    diff = snapshot_diff(old, new, "doc_id", "text")
    return (
        diff.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.coalesce(F.col("new_chars"), F.lit(0))
                   - F.coalesce(F.col("old_chars"), F.lit(0)))
             .alias("chars_delta"))
    )


def q_mixture_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing EXECUTED (sampling.execute_mix): the tau=0.7
    rate table (q_temperature_mix) broadcasts back onto the corpus as
    an integerized md5-bucket filter, and the per-source report
    compares achieved char share against the recipe's target share —
    the full data-recipe loop (weights -> deterministic sample ->
    audit) as one job. Scale shape: rate table aggregate-sized +
    broadcast, corpus never shuffles; the report is one combinable
    groupBy + aggregate-sized windows."""
    from json_schema_spark.operators.sampling import (
        execute_mix, temperature_mix_rates,
    )

    d = _docs(spark, sf_dir)
    # lazy reuse barrier (r6, guide §7.2): rates feeds both the mix
    # filter and the target-share join — without it the corpus mass
    # groupBy executes twice. One row per source, aggregate-sized.
    rates = temperature_mix_rates(d, "source", tau=0.7,
                                  weight=F.col("n_chars")) \
        .localCheckpoint(eager=False)
    kept = execute_mix(d, rates, "source", key_col="doc_id", seed=13)
    rep = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"))
    achieved = (F.col("chars_kept")
                / F.sum("chars_kept").over(Window.partitionBy()))
    rep = rep.select("source", "n_kept", "chars_kept",
                     F.round(achieved, 6).alias("achieved_share"))
    tgt = rates.select("source", "target_share")
    return rep.join(F.broadcast(tgt), "source")


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus datacard — the dataset-datasheet rollup a
    release ships with: doc counts, null-text count, char mass, exact
    median/p90 char lengths (Spark `percentile`, interpolated, =
    DuckDB quantile_cont), mean quality score, and the exact-dup count
    (docs minus distinct content hashes). ONE combinable groupBy over
    a single scan — at 100 TB this is the same one-pass rollup shape
    as stats_rollup, just pointed at release reporting."""
    d = _docs(spark, sf_dir)
    q = F.col("text")
    from json_schema_spark.operators.textstats import quality_score

    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(q.isNull().cast("long")).alias("n_null_text"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 6)
            .alias("median_chars"),
            F.round(F.percentile("n_chars", F.lit(0.9)), 6)
            .alias("p90_chars"),
            F.round(F.avg(quality_score(q)), 6).alias("mean_quality"),
            (F.count(q) - F.countDistinct(F.md5(q))).alias("n_exact_dups"),
        )
    )


# multi-script fixture snippets, shared verbatim by q_script_mix and
# its oracle builder (_script_mix_sql re-derives them via chr())
_CYR_SNIPPET = " тест данных"
_ARAB_SNIPPET = " اختبار"
_CJK_SNIPPET = "中文测试数据" * 3


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script-mix profile (textstats.script_profile): per-doc
    counts for seven script ranges plus the dominant script, over a
    deterministic multi-script fixture (5-residue docs replaced by a
    pure-CJK snippet so dominance actually flips; 3/7 residues append
    Cyrillic/Arabic runs). Ranges are explicit codepoint classes —
    never \\p{IsLatin}/\\p{Latin}, whose NAMES differ between Java and
    RE2 — so both engines count byte-identically. One codegen
    projection, zero shuffle."""
    from json_schema_spark.operators.textstats import script_profile

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    t = (
        F.when(i % 5 == 0, F.lit(_CJK_SNIPPET))
        .otherwise(F.concat(
            F.col("text"),
            F.when(i % 3 == 0, F.lit(_CYR_SNIPPET)).otherwise(F.lit("")),
            F.when(i % 7 == 0, F.lit(_ARAB_SNIPPET)).otherwise(F.lit("")),
        ))
    )
    prof = script_profile(t)
    return d.select("doc_id", *[c.alias(n) for n, c in prof.items()])


# Frozen BPE tokenizer artifact for the APPLY-side query: the first 8
# merges learned by bpe_train at sf0.01 (operators/bpe.py) — frozen as
# literals because a deployed tokenizer is trained once and applied
# everywhere, and because the apply query must be deterministic across
# scale factors for the oracle compare.
BPE_FROZEN_MERGES = [
    "e r", "e </w>", "n </w>", "er </w>",
    "o w", "ow </w>", "o r", "s t",
]
BPE_N_MERGES = 8


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (Sennrich et al. 2016) — learn the first 8
    merge rules from corpus word frequencies (operators/bpe.py). The
    ONLY corpus-scale pass is the initial word-frequency groupBy;
    every merge round then runs on the vocabulary-bounded frequency
    table with a 1-row argmax collect (the merge table IS the output
    and is inherently sequential). Oracle: the identical greedy
    left-to-right fold, unrolled as 8 rounds of DuckDB list_reduce
    CTEs."""
    from json_schema_spark.operators.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), "text", n_merges=BPE_N_MERGES)


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the frozen BPE merge table: per-document subword token
    counts. The merge chain rewrites only the DISTINCT-word vocabulary
    (bounded); the word -> subtoken-count map re-enters as a BROADCAST
    join against the exploded corpus, so the corpus itself is never
    rewritten (operators/bpe.py:bpe_token_counts)."""
    from json_schema_spark.operators.bpe import bpe_token_counts

    return bpe_token_counts(
        _docs(spark, sf_dir), "doc_id", "text", BPE_FROZEN_MERGES
    ).withColumnRenamed("id", "doc_id")


def _bpe_fold_sql(s_expr: str, a: str, b: str, m: str) -> str:
    """One greedy merge round as a DuckDB list_reduce fold over the
    space-joined symbol string `s_expr`; a/b/m are SQL EXPRESSIONS
    (column refs or literals) for the pair halves and merged token."""
    return f"""trim(list_reduce(
        list_prepend('', string_split({s_expr}, ' ')),
        (acc, x) -> CASE
            WHEN x = {b} AND ends_with(acc, ' ' || {a})
            THEN left(acc, length(acc) - length({a}) - 1) || ' ' || {m}
            ELSE acc || ' ' || x END))"""


_BPE_WORDFREQ_CTE = """
            toks AS (
              SELECT unnest(string_split_regex(trim(lower(text)),
                                               '[\\s\\x0b]+')) AS w
              FROM documents
              WHERE text IS NOT NULL AND trim(text) <> ''),
            wf AS (
              SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g'))
                       || ' </w>' AS s,
                     count(*)::BIGINT AS freq
              FROM toks WHERE w <> '' GROUP BY 1)"""


def _bpe_train_sql(n_merges: int) -> str:
    """Unrolled BPE training chain: n rounds of (pair counts -> argmax
    -> fold rewrite). Early pair exhaustion empties the CROSS JOIN and
    every later round, matching the Spark loop's break."""
    parts = ["WITH " + _BPE_WORDFREQ_CTE + ",",
             "            w0 AS (SELECT s, freq FROM wf)"]
    for r in range(n_merges):
        fold = _bpe_fold_sql("w.s", "m.a", "m.b", "m.m")
        parts.append(f""",
            p{r} AS (
              SELECT pr, sum(freq)::BIGINT AS cnt FROM (
                SELECT unnest(list_transform(
                         generate_series(1, len(string_split(s, ' ')) - 1),
                         i -> string_split(s, ' ')[i] || ' '
                              || string_split(s, ' ')[i+1])) AS pr,
                       freq
                FROM w{r}) GROUP BY pr),
            m{r} AS (
              SELECT pr, split_part(pr, ' ', 1) AS a,
                     split_part(pr, ' ', 2) AS b,
                     replace(pr, ' ', '') AS m, cnt
              FROM p{r} ORDER BY cnt DESC, pr ASC LIMIT 1),
            w{r + 1} AS (
              SELECT {fold} AS s, w.freq
              FROM w{r} w CROSS JOIN m{r} m)""")
    rounds = "\n              UNION ALL ".join(
        f"SELECT {r} AS merge_round, pr AS pair, m AS merged, "
        f"cnt AS pair_count FROM m{r}" for r in range(n_merges)
    )
    parts.append(f"\n            {rounds}")
    return "".join(parts)


def _bpe_token_counts_sql(merges: list[str]) -> str:
    """Frozen-merge apply: fold chain over the distinct-word
    vocabulary, joined back to the exploded corpus."""
    s = "trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>'"
    for pr in merges:
        a, b = pr.split(" ", 1)
        esc = lambda t: "'" + t.replace("'", "''") + "'"
        s = _bpe_fold_sql(s, esc(a), esc(b), esc(a + b))
    return f"""
            WITH dw AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
                                                       '[\\s\\x0b]+')) AS w
              FROM documents
              WHERE text IS NOT NULL AND trim(text) <> ''),
            docw AS (SELECT doc_id, w FROM dw WHERE w <> ''),
            vocab AS (
              SELECT w, len(string_split({s}, ' ')) AS n_sub
              FROM (SELECT DISTINCT w FROM docw))
            SELECT d.doc_id,
                   count(*)::BIGINT AS n_words,
                   sum(v.n_sub)::BIGINT AS n_subtokens
            FROM docw d JOIN vocab v USING (w)
            GROUP BY d.doc_id
        """


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language under the frozen BPE merges —
    the multilingual-tokenizer equity audit (languages the merges were
    not trained on fragment into more subtokens per word). Same scale
    shape as bpe_token_counts: vocabulary-bounded merge chain re-enters
    as a broadcast, corpus never rewritten
    (operators/bpe.py:tokenizer_fertility)."""
    from json_schema_spark.operators.bpe import tokenizer_fertility

    return tokenizer_fertility(
        _docs(spark, sf_dir), "doc_id", "text", "lang", BPE_FROZEN_MERGES)


def _tokenizer_fertility_sql(merges: list[str]) -> str:
    """Fertility rollup over the same fold chain as
    _bpe_token_counts_sql (one source of truth for the merge fold)."""
    s = "trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>'"
    for pr in merges:
        a, b = pr.split(" ", 1)
        esc = lambda t: "'" + t.replace("'", "''") + "'"
        s = _bpe_fold_sql(s, esc(a), esc(b), esc(a + b))
    return f"""
            WITH dw AS (
              SELECT doc_id, lang,
                     unnest(string_split_regex(trim(lower(text)),
                                               '[\\s\\x0b]+')) AS w
              FROM documents
              WHERE text IS NOT NULL AND trim(text) <> ''),
            docw AS (SELECT doc_id, lang, w FROM dw WHERE w <> ''),
            vocab AS (
              SELECT w, len(string_split({s}, ' ')) AS n_sub
              FROM (SELECT DISTINCT w FROM docw)),
            per_doc AS (
              SELECT d.doc_id, d.lang,
                     count(*)::BIGINT AS n_words,
                     sum(v.n_sub)::BIGINT AS n_subtokens,
                     sum(length(d.w))::BIGINT AS word_chars
              FROM docw d JOIN vocab v USING (w)
              GROUP BY 1, 2)
            SELECT lang, count(*) AS n_docs,
                   sum(n_words)::BIGINT AS n_words,
                   sum(n_subtokens)::BIGINT AS n_subtokens,
                   round(sum(n_subtokens) / sum(n_words), 6)
                     AS subtokens_per_word,
                   round(sum(word_chars) / sum(n_subtokens), 6)
                     AS chars_per_subtoken
            FROM per_doc GROUP BY 1
        """


def q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) train/eval decontamination
    (quality.py:fuzzy_contamination): eval = every 41st document with
    a deliberate 'x ' prefix mutation (so matches are fuzzy, never
    exact-string — and each eval row's unperturbed source sits in
    train at distance <= 4 by construction: 2 edits to delete 'x ',
    <= 2 to restore the truncated prefix tail), train = the FULL
    corpus; pairs whose normalized ASCII 64-char prefixes are within
    4 edits. Broadcast length-banded equi-join + thresholded
    levenshtein — never a NestedLoop over the corpus."""
    from json_schema_spark.operators.quality import fuzzy_contamination

    d = _docs(spark, sf_dir)
    # benchmark slices are FIXED-size artifacts: cap at 500 eval docs
    # (doc_id < 41*500) so the eval side stays benchmark-sized at any
    # sf — identical output at sf0.01/sf0.1, bounded at the 1M soak
    ev = d.where((F.col("doc_id") % 41 == 0)
                 & (F.col("doc_id") < 41 * 500)).select(
        "doc_id", F.concat(F.lit("x "), F.col("text")).alias("text"))
    return fuzzy_contamination(d, ev, "doc_id", "text",
                               max_dist=4, prefix_len=64)


_FUZZY_KEY_SQL = """substr(trim(regexp_replace(regexp_replace(
    lower({src}), '[^\\x00-\\x7F]', '', 'g'),
    '[\\s\\x0b]+', ' ', 'g')), 1, 64)"""


def _fuzzy_contamination_sql() -> str:
    ek = _FUZZY_KEY_SQL.format(src="'x ' || text")
    tk = _FUZZY_KEY_SQL.format(src="text")
    return f"""
            WITH ev AS (
              SELECT doc_id AS eval_id, {ek} AS ep
              FROM documents
              WHERE doc_id % 41 = 0 AND doc_id < 20500
                AND text IS NOT NULL),
            tr AS (
              SELECT doc_id AS train_id, {tk} AS tp
              FROM documents
              WHERE text IS NOT NULL)
            SELECT eval_id, train_id,
                   levenshtein(tp, ep)::INT AS edit_dist
            FROM tr, ev
            WHERE ep <> '' AND tp <> ''
              AND abs(length(tp) - length(ep)) <= 4
              AND levenshtein(tp, ep) <= 4
        """


def _frontier_link_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-lattice fixture variant for the crawl frontier: page i's
    j-th outbound anchor targets the CANONICAL URL of doc i + j*37
    ('k:'-namespace md5, domain (i+j*37)%7) — so targets whose doc
    exists in the fetched ledger anti-join away, while the ~111
    doc-slots past the corpus edge (plus null-text docs) form a
    frontier big enough to actually exercise the per-host politeness
    cap."""
    from json_schema_spark.operators.html_extract import wrap_page_links

    i = F.col("doc_id")
    key = F.md5(F.concat(F.lit("k:"), i.cast("string")))
    domain = F.concat(F.lit("example"),
                      F.pmod(i, F.lit(7)).cast("string"), F.lit(".com"))
    links = F.transform(
        F.sequence(F.lit(1), F.pmod(i, F.lit(3)) + 1),
        lambda j: F.concat(
            F.lit("https://example"),
            F.pmod(i + j * 37, F.lit(7)).cast("string"), F.lit(".com/d/"),
            F.md5(F.concat(F.lit("k:"), (i + j * 37).cast("string")))),
    )
    return (_docs(spark, sf_dir).where(F.col("text").isNotNull())
            .select(i, domain.alias("src_domain"),
                    wrap_page_links(F.col("text"), key, domain, links)
                    .alias("page")))


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier generation (html_extract.py:crawl_frontier):
    outbound anchors -> canonical candidate URLs -> fetched-ledger
    anti-join -> broadcast host-quality scores -> salted per-host
    politeness cap (k=10). Closes the crawl loop over the link-graph
    family; oracle derives the expected link set from the lattice
    ARITHMETIC (never parses HTML), same discipline as the robots
    oracle."""
    from json_schema_spark.operators.html_extract import crawl_frontier
    from json_schema_spark.operators.textstats import quality_score

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    i = F.col("doc_id")
    fetched = docs.select(
        F.concat(F.lit("https://example"),
                 F.pmod(i, F.lit(7)).cast("string"), F.lit(".com/d/"),
                 F.md5(F.concat(F.lit("k:"), i.cast("string"))))
        .alias("url"))
    host_scores = docs.groupBy(
        F.concat(F.lit("example"), F.pmod(i, F.lit(7)).cast("string"),
                 F.lit(".com")).alias("host")
    ).agg(F.round(F.avg(quality_score(F.col("text"))), 4)
          .alias("host_score"))
    pages = _frontier_link_docs(spark, sf_dir)
    return crawl_frontier(pages, F.col("page"), fetched, host_scores,
                          k_per_host=10)


def _crawl_frontier_sql() -> str:
    return f"""
            WITH docs0 AS (
              SELECT doc_id AS i FROM documents WHERE text IS NOT NULL),
            links AS (
              SELECT 'example' || ((d.i + g.j * 37) % 7) || '.com' AS host,
                     'https://example' || ((d.i + g.j * 37) % 7) || '.com/d/'
                       || md5('k:' || (d.i + g.j * 37)) AS url
              FROM docs0 d,
                   unnest(generate_series(1, d.i % 3 + 1)) AS g(j)),
            disc AS (
              SELECT host, url, count(*)::BIGINT AS n_refs
              FROM links GROUP BY host, url),
            fetched AS (
              SELECT 'https://example' || (i % 7) || '.com/d/'
                       || md5('k:' || i) AS url
              FROM docs0),
            hostq AS (
              SELECT 'example' || (doc_id % 7) || '.com' AS host,
                     round(avg({_QUALITY_SQL}), 4) AS host_score
              FROM documents WHERE text IS NOT NULL GROUP BY 1),
            cand AS (
              SELECT d.url, d.host, d.n_refs,
                     coalesce(h.host_score, 0.0) AS host_score
              FROM disc d LEFT JOIN hostq h USING (host)
              WHERE NOT EXISTS (SELECT 1 FROM fetched f
                                WHERE f.url = d.url)),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY host
                       ORDER BY n_refs DESC, url) AS rank_in_domain
              FROM cand)
            SELECT url, host, n_refs, host_score, rank_in_domain
            FROM ranked WHERE rank_in_domain <= 10
        """


# 21 thresholds, hundredth steps across the placeholder classifier's
# observed score mass at sf0.01 (min -0.19 / median 0.025 / max 0.25)
CALIBRATION_GRID = [round(-0.10 + 0.01 * k, 2) for k in range(21)]


def q_calibration_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier threshold-calibration sweep
    (classifier.py:calibration_sweep): confusion counts + precision/
    recall/F1 for the fastText-style quality scorer against the
    lang='en' weak label, at 21 thresholds in ONE pass — the corpus
    collapses to <= 2*(n+1) (grid_index, label) rows in the first
    partial-aggregable groupBy; everything after runs on that bounded
    table crossed with the bounded grid."""
    from json_schema_spark.operators.classifier import (
        calibration_sweep,
        hashed_linear_score,
    )

    docs = _docs(spark, sf_dir)
    scored = hashed_linear_score(docs, "doc_id", "text", n_buckets=4096)
    labeled = scored.join(
        docs.select(F.col("doc_id").alias("id"),
                    (F.col("lang") == "en").alias("is_en")), "id")
    return calibration_sweep(labeled, "score", "is_en", CALIBRATION_GRID)


def _calibration_sweep_sql(grid: list[float]) -> str:
    garr = ", ".join(repr(t) for t in sorted(grid))
    return f"""
            WITH {_CLASSIFIER_SCORE_CTES},
            scored AS (
              SELECT t.doc_id, round(p.raw, 6) AS score
              FROM (SELECT doc_id FROM documents
                    WHERE text IS NOT NULL) t
              LEFT JOIN per p USING (doc_id)),
            lab AS (
              SELECT s.score, coalesce(d.lang = 'en', false) AS is_en
              FROM scored s JOIN documents d USING (doc_id)
              WHERE s.score IS NOT NULL),
            grid AS (SELECT unnest([{garr}]) AS threshold),
            cc AS (
              SELECT g.threshold,
                     sum(CASE WHEN l.score >= g.threshold AND l.is_en
                         THEN 1 ELSE 0 END)::BIGINT AS tp,
                     sum(CASE WHEN l.score >= g.threshold AND NOT l.is_en
                         THEN 1 ELSE 0 END)::BIGINT AS fp,
                     sum(CASE WHEN l.score < g.threshold AND l.is_en
                         THEN 1 ELSE 0 END)::BIGINT AS fn,
                     sum(CASE WHEN l.score < g.threshold AND NOT l.is_en
                         THEN 1 ELSE 0 END)::BIGINT AS tn
              FROM grid g CROSS JOIN lab l GROUP BY g.threshold),
            m AS (
              SELECT *,
                     CASE WHEN tp + fp = 0 THEN NULL
                          ELSE tp::DOUBLE / (tp + fp) END AS prec,
                     CASE WHEN tp + fn = 0 THEN NULL
                          ELSE tp::DOUBLE / (tp + fn) END AS rec
              FROM cc)
            SELECT threshold, tp, fp, fn, tn,
                   round(prec, 6) AS precision,
                   round(rec, 6) AS recall,
                   round(CASE WHEN prec IS NULL OR rec IS NULL
                              OR prec + rec = 0 THEN NULL
                         ELSE 2 * prec * rec / (prec + rec) END, 6) AS f1
            FROM m
        """


def q_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-configuration audit (dedup.py:minhash_fidelity): estimated
    vs exact Jaccard on every band-bucket candidate pair, over a
    deterministic FIXED-SIZE audit sample (doc_id%3==0, capped at
    500 docs — the sample must be sized to the exact-pair budget, not
    scale with the corpus) plus perturbed twins
    (every 9th sampled doc re-appears with a 3-token tail and id
    +10M) so the candidate set is non-trivial at any sf. k=8 bands=4
    md5 signatures — every component DuckDB-reproducible; the oracle
    joins bands on the signature slice string."""
    from json_schema_spark.operators.dedup import minhash_fidelity

    base = (_docs(spark, sf_dir)
            .where(F.col("text").isNotNull() & (F.col("doc_id") % 3 == 0)
                   & (F.col("doc_id") < 3 * 500))
            .select("doc_id", "text"))
    twins = (base.where(F.col("doc_id") % 9 == 0)
             .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" fidelity audit tail"))
                     .alias("text")))
    return minhash_fidelity(base.unionByName(twins), "doc_id", "text",
                            n=3, k=8, bands=4, hash_fn="md5")


def _minhash_fidelity_sql(k: int = 8, bands: int = 4) -> str:
    rows = k // bands
    sig_mins = ",\n                   ".join(
        f"min(('0x' || substr(md5(gram || ':{i}'), 1, 15))::BIGINT) AS s{i}"
        for i in range(k))
    band_selects = "\n              UNION ALL ".join(
        "SELECT doc, {b} AS band, {key} AS key FROM sig".format(
            b=b, key=" || ',' || ".join(
                f"s{b * rows + r}::VARCHAR" for r in range(rows)))
        for b in range(bands))
    agree = " + ".join(f"(sa.s{i} = sb.s{i})::INT" for i in range(k))
    return f"""
            WITH src AS (
              SELECT doc_id, text FROM documents
              WHERE text IS NOT NULL AND doc_id % 3 = 0
                AND doc_id < 1500
              UNION ALL
              SELECT doc_id + 10000000, text || ' fidelity audit tail'
              FROM documents
              WHERE text IS NOT NULL AND doc_id % 3 = 0
                AND doc_id % 9 = 0 AND doc_id < 1500),
            toks AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '[\\s\\x0b]+') AS t
              FROM src),
            grams AS (
              SELECT DISTINCT doc_id,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
              WHERE len(t) >= 3
              UNION
              SELECT doc_id, array_to_string(t, ' ') AS gram
              FROM toks WHERE len(t) < 3),
            sig AS (
              SELECT doc_id AS doc,
                   {sig_mins}
              FROM grams GROUP BY doc_id),
            bb AS (
              {band_selects}),
            cand AS (
              SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
              FROM bb a JOIN bb b
                ON a.band = b.band AND a.key = b.key AND a.doc < b.doc),
            sizes AS (
              SELECT doc_id, count(*) AS ng FROM grams GROUP BY doc_id),
            inter AS (
              SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b,
                     count(*) AS ni
              FROM grams ga JOIN grams gb
                ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
              GROUP BY 1, 2),
            est AS (
              SELECT c.doc_a, c.doc_b,
                     round(({agree}) / {k}.0, 6) AS est_jaccard
              FROM cand c
              JOIN sig sa ON sa.doc = c.doc_a
              JOIN sig sb ON sb.doc = c.doc_b)
            SELECT e.doc_a, e.doc_b, e.est_jaccard,
                   coalesce(round(i.ni::DOUBLE
                            / (za.ng + zb.ng - i.ni), 6), 0.0)
                     AS exact_jaccard,
                   round(abs(e.est_jaccard - coalesce(round(i.ni::DOUBLE
                            / (za.ng + zb.ng - i.ni), 6), 0.0)), 6)
                     AS abs_err
            FROM est e
            LEFT JOIN inter i
              ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
            JOIN sizes za ON za.doc_id = e.doc_a
            JOIN sizes zb ON zb.doc_id = e.doc_b
        """


def q_heaps_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve (vocab.py:heaps_profile):
    16 cumulative id-hash corpus chunks; one explode collapses through
    a partial-aggregable groupBy(token) to first-seen buckets, the
    cumulative window runs over 16 rows. The corpus-sizing evidence a
    tokenizer/vocabulary decision needs before training."""
    from json_schema_spark.operators.vocab import heaps_profile

    return heaps_profile(_docs(spark, sf_dir), "doc_id", "text",
                         n_buckets=16)


def _heaps_profile_sql(b: int = 16) -> str:
    return f"""
        WITH toks AS (
          SELECT ((doc_id % {b}) + {b}) % {b} AS bucket,
                 CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)),
                                              '[\\s\\x0b]+') END AS t
          FROM documents WHERE text IS NOT NULL),
        pb AS (
          SELECT bucket, count(*) AS n_docs,
                 CAST(sum(len(t)) AS BIGINT) AS n_tokens
          FROM toks GROUP BY bucket),
        fs AS (
          SELECT tok, min(bucket) AS first_b
          FROM (SELECT bucket, unnest(t) AS tok FROM toks)
          GROUP BY tok),
        nt AS (
          SELECT first_b AS bucket, count(*) AS new_types
          FROM fs GROUP BY 1)
        SELECT pb.bucket, pb.n_docs, pb.n_tokens,
               CAST(sum(pb.n_tokens) OVER (ORDER BY pb.bucket)
                    AS BIGINT) AS tokens_cum,
               coalesce(nt.new_types, 0) AS new_types,
               CAST(sum(coalesce(nt.new_types, 0))
                    OVER (ORDER BY pb.bucket) AS BIGINT) AS vocab_cum
        FROM pb LEFT JOIN nt ON nt.bucket = pb.bucket
    """


def q_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency profile (vocab.py:zipf_profile): top-100
    tokens via TakeOrderedAndProject (no global sort), deterministic
    token-ascending tie-break, log-log regr_slope over the bounded
    top-k — the power-law fit that sanity-checks a corpus before
    vocabulary decisions trust its term statistics."""
    from json_schema_spark.operators.vocab import zipf_profile

    return zipf_profile(_docs(spark, sf_dir), "text", topk=100)


def _zipf_profile_sql(k: int = 100) -> str:
    return f"""
        WITH toks AS (
          SELECT CASE WHEN trim(lower(text)) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)),
                                              '[\\s\\x0b]+') END AS t
          FROM documents WHERE text IS NOT NULL),
        c AS (
          SELECT tok, count(*) AS freq
          FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
        topk AS (
          SELECT tok, freq FROM c
          ORDER BY freq DESC, tok ASC LIMIT {k}),
        r AS (
          SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok ASC)
                      AS INT) AS term_rank,
                 tok AS token, freq
          FROM topk),
        s AS (
          SELECT round(regr_slope(ln(freq), ln(term_rank)), 6)
                 AS zipf_slope
          FROM r)
        SELECT r.term_rank, r.token, r.freq, s.zipf_slope
        FROM r CROSS JOIN s
    """


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (vocab.py:winnow_fingerprints; MOSS,
    Schleimer et al. 2003): per-document (pos, hash) selections over a
    fixed-size audit sample (doc_id%7==0, capped at 500 docs) — every
    selected fingerprint and its position value-checked, k=5 w=4.
    The local-fingerprinting complement to MinHash/SimHash: shared
    substrings >= k+w-1 chars are GUARANTEED a fingerprint match."""
    from json_schema_spark.operators.vocab import winnow_fingerprints

    d = _docs(spark, sf_dir).where(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 7 * 500))
    return winnow_fingerprints(d, "doc_id", "text", k=5, w=4)


def _winnow_fingerprint_sql(k: int = 5, w: int = 4) -> str:
    return f"""
        WITH src AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[\\s\\x0b]+', ' ',
                                     'g')) AS key
          FROM documents
          WHERE text IS NOT NULL AND doc_id % 7 = 0
            AND doc_id < 3500),
        g AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(key) - {k - 1}),
                   i -> ('0x' || substr(md5(substr(key, i, {k}) || ':w'),
                                        1, 15))::BIGINT) AS h
          FROM src WHERE length(key) >= {k}),
        hw AS (SELECT doc_id, h, len(h) AS nh FROM g),
        fps AS (
          SELECT doc_id,
                 CASE WHEN nh - {w - 1} >= 1 THEN
                   list_transform(generate_series(1, nh - {w - 1}),
                     j -> struct_pack(
                       pos := j - 1 + list_reduce(
                         generate_series(0, {w - 1}),
                         (acc, o) -> CASE WHEN h[j + o] =
                             list_aggregate(h[j:j+{w - 1}], 'min')
                           THEN o ELSE acc END),
                       fp := list_aggregate(h[j:j+{w - 1}], 'min')))
                 ELSE
                   [struct_pack(
                     pos := list_reduce(generate_series(0, nh - 1),
                       (acc, o) -> CASE WHEN h[1 + o] =
                           list_aggregate(h[1:nh], 'min')
                         THEN o ELSE acc END),
                     fp := list_aggregate(h[1:nh], 'min'))]
                 END AS f
          FROM hw)
        SELECT DISTINCT doc_id, s.pos AS pos, s.fp AS fp
        FROM fps, UNNEST(f) AS u(s)
    """


def q_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index postings (vocab.py:build_postings)
    over a fixed-size doc sample (doc_id%13==0, capped at 64 docs —
    the synthetic corpus has a ~31-type vocabulary, so a term sample
    would be all-or-nothing; a doc sample keeps per-term df in [1,64]
    where the band genuinely bites): df band [2, 50] prunes hapaxes
    AND the stop-term head, sorted 0-based positions comma-joined per
    (term, doc)."""
    from json_schema_spark.operators.vocab import build_postings

    d = _docs(spark, sf_dir).where(
        (F.col("doc_id") % 13 == 0) & (F.col("doc_id") < 13 * 64))
    return build_postings(d, "doc_id", "text", min_df=2, max_df=50)


def _postings_index_sql() -> str:
    return """
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN trim(lower(text)) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)),
                                              '[\\s\\x0b]+') END AS t
          FROM documents
          WHERE text IS NOT NULL AND doc_id % 13 = 0
            AND doc_id < 832),
        occ AS (
          SELECT doc_id, unnest(t) AS term,
                 generate_subscripts(t, 1) - 1 AS pos
          FROM toks),
        p AS (
          SELECT term, doc_id, count(*) AS n_occ,
                 string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos)
                 AS positions
          FROM occ GROUP BY term, doc_id),
        d AS (SELECT term, count(*) AS term_df FROM p GROUP BY term)
        SELECT p.term, d.term_df, p.doc_id, p.n_occ, p.positions
        FROM p JOIN d USING (term)
        WHERE d.term_df BETWEEN 2 AND 50
    """


# decomposed-form suffix injected into every 7th doc so NFC actually
# has work to do on the (otherwise ASCII) synthetic corpus:
# 'e' + U+0301 combining acute, 'o' + U+0308 combining diaeresis
NFC_SUFFIX = " cafe\u0301 No\u0308el"


def q_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization audit (normalize.py:nfc_audit): the
    mapInPandas slow path done right — unicodedata.normalize over a
    pruned (id, text) projection, all derivable metrics (md5, char and
    byte lengths, changed flag) JVM-side after the UDF. Every 7th doc
    gets a decomposed-form suffix so normalization has real work;
    the md5 of the normalized text is value-checked against DuckDB's
    independent utf8proc nfc_normalize — two C implementations of the
    same Unicode algorithm agreeing byte-for-byte."""
    from json_schema_spark.operators.normalize import nfc_audit

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("text").isNotNull() & (F.col("doc_id") % 7 == 0),
               F.concat(F.col("text"), F.lit(NFC_SUFFIX)))
        .otherwise(F.col("text")).alias("text"))
    return nfc_audit(d, "doc_id", "text", form="NFC")


def _nfc_audit_sql() -> str:
    return """
        WITH src AS (
          SELECT doc_id,
                 CASE WHEN text IS NOT NULL AND doc_id % 7 = 0
                      THEN text || ' cafe' || chr(769) || ' No'
                           || chr(776) || 'el'
                      ELSE text END AS text
          FROM documents),
        n AS (
          SELECT doc_id, text, nfc_normalize(text) AS norm FROM src)
        SELECT doc_id,
               NOT (text IS NOT DISTINCT FROM norm) AS changed,
               length(text) AS chars_before,
               length(norm) AS chars_after,
               strlen(text) AS bytes_before,
               strlen(norm) AS bytes_after,
               md5(norm) AS norm_md5
        FROM n
    """


def q_winnow_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs over winnowing fingerprints
    (vocab.py:winnow_near_dup): the same fixed-size 500-doc audit
    sample as winnow_fingerprint plus perturbed twins (every 3rd
    sampled doc re-appears with a short tail and id +10M — the
    minhash_fidelity fixture rule) so guaranteed-overlap pairs exist
    at any sf; boilerplate fingerprints (df > 16) pruned BEFORE the
    self-join."""
    from json_schema_spark.operators.vocab import winnow_near_dup

    base = _docs(spark, sf_dir).where(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 7 * 500)
        & F.col("text").isNotNull()).select("doc_id", "text")
    twins = (base.where(F.col("doc_id") % 3 == 0)
             .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" winnow twin tail"))
                     .alias("text")))
    return winnow_near_dup(base.unionByName(twins), "doc_id", "text",
                           k=5, w=4, min_shared=2, max_fp_df=16)


def _winnow_near_dup_sql(k: int = 5, w: int = 4) -> str:
    return f"""
        WITH srcdocs AS (
          SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL AND doc_id % 7 = 0 AND doc_id < 3500
          UNION ALL
          SELECT doc_id + 10000000, text || ' winnow twin tail'
          FROM documents
          WHERE text IS NOT NULL AND doc_id % 7 = 0 AND doc_id < 3500
            AND doc_id % 3 = 0),
        src AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '[\\s\\x0b]+', ' ',
                                     'g')) AS key
          FROM srcdocs),
        g AS (
          SELECT doc_id,
                 list_transform(generate_series(1, length(key) - {k - 1}),
                   i -> ('0x' || substr(md5(substr(key, i, {k}) || ':w'),
                                        1, 15))::BIGINT) AS h
          FROM src WHERE length(key) >= {k}),
        hw AS (SELECT doc_id, h, len(h) AS nh FROM g),
        allfps AS (
          SELECT doc_id,
                 CASE WHEN nh - {w - 1} >= 1 THEN
                   list_transform(generate_series(1, nh - {w - 1}),
                     j -> list_aggregate(h[j:j+{w - 1}], 'min'))
                 ELSE [list_aggregate(h[1:nh], 'min')]
                 END AS f
          FROM hw),
        fps AS (
          SELECT DISTINCT doc_id AS doc, u.fp AS fp
          FROM allfps, UNNEST(f) AS u(fp)),
        fdf AS (
          SELECT fp, count(*) AS fp_df FROM fps GROUP BY fp),
        pruned AS (
          SELECT fps.doc, fps.fp FROM fps JOIN fdf USING (fp)
          WHERE fdf.fp_df BETWEEN 2 AND 16),
        pairs AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b,
                 count(*) AS n_shared
          FROM pruned a JOIN pruned b
            ON a.fp = b.fp AND a.doc < b.doc
          GROUP BY 1, 2 HAVING count(*) >= 2),
        sizes AS (
          SELECT doc, count(*) AS n FROM fps GROUP BY doc)
        SELECT p.doc_a, p.doc_b, p.n_shared,
               round(p.n_shared / (sa.n + sb.n - p.n_shared), 6)
                 AS overlap
        FROM pairs p
        JOIN sizes sa ON sa.doc = p.doc_a
        JOIN sizes sb ON sb.doc = p.doc_b
    """


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease battery (textstats.py:readability_profile):
    vowel-group syllables and sentence runs as Java∩RE2 regexes, token
    array materialized once (HOF rule), one codegen projection."""
    from json_schema_spark.operators.textstats import readability_profile

    return readability_profile(_docs(spark, sf_dir), "doc_id", "text")


def _readability_sql() -> str:
    return """
        WITH d AS (
          SELECT doc_id, text,
                 CASE WHEN trim(lower(text)) = ''
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)),
                                              '[\\s\\x0b]+') END AS t
          FROM documents),
        m AS (
          SELECT doc_id, text, len(t) AS n_words,
                 greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                   AS n_sent,
                 CAST(coalesce(list_aggregate(list_transform(t,
                        w -> greatest(1,
                               len(regexp_extract_all(w, '[aeiouy]+')))),
                      'sum'), 0) AS BIGINT) AS n_syll
          FROM d)
        SELECT doc_id,
               CASE WHEN text IS NOT NULL THEN n_words END AS n_words,
               CASE WHEN text IS NOT NULL THEN n_sent END
                 AS n_sentences,
               CASE WHEN text IS NOT NULL THEN n_syll END
                 AS n_syllables,
               CASE WHEN text IS NOT NULL AND n_words > 0 THEN
                 round(206.835 - 1.015 * (n_words / n_sent)
                       - 84.6 * (n_syll / n_words), 4)
               END AS fre
        FROM m
    """


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split
    (sampling.py:leakage_safe_split): assignment buckets hash the
    NEAR-DUP GROUP label (dedup connected components, the
    dedup_groups graph), so near-duplicates can never straddle
    splits; the leak_groups audit column asserts the invariant (0)
    in the output itself."""
    from json_schema_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from json_schema_spark.operators.sampling import leakage_safe_split

    d = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(d, "doc_id", "text",
                                n=3, threshold=0.4, max_df=5)
    return leakage_safe_split(d, "doc_id", connected_components(pairs))


def _leakage_safe_split_sql() -> str:
    return _DEDUP_GROUPS_CTE + """,
            grptab AS (
              SELECT node, CAST(min(label) AS BIGINT) AS grp
              FROM cc GROUP BY node),
            assign AS (
              SELECT d.doc_id, coalesce(g.grp, d.doc_id) AS grp
              FROM documents d LEFT JOIN grptab g ON g.node = d.doc_id),
            bkt AS (
              SELECT doc_id, grp,
                     ((('0x' || substr(md5(CAST(grp AS VARCHAR) || '#11'),
                                       1, 15))::BIGINT % 1000000)
                      + 1000000) % 1000000 AS bk
              FROM assign),
            s AS (
              SELECT doc_id, grp,
                     CASE WHEN bk < 900000 THEN 'train'
                          WHEN bk < 950000 THEN 'val'
                          ELSE 'test' END AS split
              FROM bkt),
            leak AS (
              SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1
                                        ELSE 0 END), 0) AS BIGINT)
                     AS leak_groups
              FROM (SELECT grp, count(DISTINCT split) AS ns
                    FROM s GROUP BY grp))
            SELECT s.split, count(*) AS n_docs,
                   count(DISTINCT s.grp) AS n_groups,
                   (SELECT leak_groups FROM leak) AS leak_groups
            FROM s GROUP BY s.split
        """


RETRIEVAL_EVAL_QUERIES = {
    # rare term 'dup' (df ~5% of docs) makes rel=2 genuinely selective;
    # the 2- and 4-term panels exercise the >=ceil(m/2) graded tier
    "q_dup_merge": ["dup", "merge", "scan"],
    "q_slow_scan": ["slow", "scan"],
    "q_stream_win": ["stream", "sort", "window", "batch"],
}


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded-relevance retrieval evaluation (precision/recall/MRR/
    NDCG@15) of multi-query BM25 rankings, labels derived
    deterministically from term coverage (retrieval.py:retrieval_eval).
    Runs the SALTED two-stage top-k path (rank within (qid, md5-salt),
    then the real window over <= k*n_salts rows per qid) — value-
    identical to the oracle's single window by the pigeonhole
    containment argument, and the shape that survives a hot qid at
    10^12 docs."""
    from json_schema_spark.operators.retrieval import retrieval_eval

    return retrieval_eval(
        _docs(spark, sf_dir), "doc_id", "text",
        queries=RETRIEVAL_EVAL_QUERIES, k=15, salted=True, n_salts=8,
    )


def _retrieval_eval_sql() -> str:
    qvals = ", ".join(
        f"('{qid}', '{t}')"
        for qid, terms in sorted(RETRIEVAL_EVAL_QUERIES.items())
        for t in sorted(set(x.lower() for x in terms)))
    return f"""
            WITH q(qid, term) AS (VALUES {qvals}),
            qm AS (SELECT qid, count(*) AS m FROM q GROUP BY 1),
            toks AS (
              SELECT doc_id,
                     CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents WHERE text IS NOT NULL),
            corpus AS (
              SELECT count(*) AS n_corpus, avg(len(t)) AS avgdl FROM toks),
            matches AS (
              SELECT q.qid, toks.doc_id, len(t) AS dl, u.tok AS term
              FROM toks, UNNEST(t) AS u(tok)
              JOIN q ON q.term = u.tok),
            tf AS (
              SELECT qid, doc_id, dl, term, count(*) AS tf
              FROM matches GROUP BY 1, 2, 3, 4),
            dft AS (SELECT qid, term, count(*) AS df_t
                    FROM tf GROUP BY 1, 2),
            scored AS (
              SELECT tf.qid, tf.doc_id,
                     ((ln(1.0 + (c.n_corpus - d.df_t + 0.5)
                                / (d.df_t + 0.5)) * tf.tf) * 2.2)
                     / (tf.tf + 1.2 * (0.25 + (0.75 * tf.dl) / c.avgdl))
                       AS contrib
              FROM tf JOIN dft d USING (qid, term) CROSS JOIN corpus c),
            cand AS (
              SELECT s.qid, s.doc_id, round(sum(contrib), 4) AS score,
                     count(*) AS matched
              FROM scored s GROUP BY 1, 2),
            cand2 AS (
              SELECT cand.*,
                     CASE WHEN matched = m THEN 2
                          WHEN matched * 2 >= m THEN 1
                          ELSE 0 END AS rel
              FROM cand JOIN qm USING (qid)),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY qid ORDER BY score DESC, doc_id)
                       AS rnk
              FROM cand2),
            ideal AS (
              SELECT qid, rel, row_number() OVER (
                       PARTITION BY qid ORDER BY rel DESC, doc_id)
                       AS irnk
              FROM cand2 WHERE rel > 0),
            idcg AS (
              SELECT qid, sum(rel / log2(irnk + 1.0)) AS idcg
              FROM ideal WHERE irnk <= 15 GROUP BY 1),
            base AS (
              SELECT qid, count(*) AS n_cand,
                     coalesce(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END), 0)
                       AS n_rel
              FROM cand2 GROUP BY 1),
            ta AS (
              SELECT qid,
                     coalesce(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END), 0)
                       AS hits_at_k,
                     sum(rel / log2(rnk + 1.0)) AS dcg,
                     min(CASE WHEN rel > 0 THEN rnk END) AS frank
              FROM ranked WHERE rnk <= 15 GROUP BY 1)
            SELECT b.qid, b.n_cand, b.n_rel,
                   coalesce(ta.hits_at_k, 0) AS hits_at_k,
                   round(coalesce(ta.hits_at_k, 0) / 15.0, 6)
                     AS precision_at_k,
                   CASE WHEN b.n_rel > 0
                        THEN round(coalesce(ta.hits_at_k, 0)
                                   / CAST(b.n_rel AS DOUBLE), 6)
                        ELSE 0.0 END AS recall_at_k,
                   CASE WHEN ta.frank IS NOT NULL
                        THEN round(1.0 / ta.frank, 6)
                        ELSE 0.0 END AS mrr_at_k,
                   CASE WHEN coalesce(i.idcg, 0.0) > 0.0
                        THEN round(coalesce(ta.dcg, 0.0) / i.idcg, 6)
                        ELSE 0.0 END AS ndcg_at_k
            FROM base b
            LEFT JOIN ta USING (qid)
            LEFT JOIN idcg i USING (qid)
        """


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6-hour window aggregation over the events stream table
    (batch twin of the Structured Streaming path)."""
    ev = _read("events")(spark, sf_dir)
    w = F.window(F.col("ts"), "6 hours")
    return (
        ev.groupBy(w.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full keyword-set constraint pass on sf0.001."""
    return q_constraint_summary(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER CONTRACT (VERDICT r3 "What's wrong" #2): the driver samples
    # the FIRST 50 entries for the DuckDB value-check. Every query with
    # an oracle_sql() twin must come first; the no_oracle entries (each
    # with a value-checked md5/exact twin or a pytest recall gate) go
    # last so a sample window never silently drops a value-checkable
    # query. tests/test_driver_contract.py enforces this ordering.
    base: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- oracled queries (everything here has an oracle_sql() row) ---
        "constraint_summary": q_constraint_summary,
        "constraint_violations": q_constraint_violations,
        "constraint_by_partition": q_constraint_by_partition,
        "column_stats": q_column_stats,
        "stats_rollup": q_stats_rollup,
        "unique_check": q_unique_check,
        "heavy_hitters": q_heavy_hitters,
        "cardinality_profile": q_cardinality_profile,
        "ref_lang": q_ref_lang,
        "drift_chi2_lang": q_drift_chi2_lang,
        "drift_ks_chars": q_drift_ks_chars,
        "drift_ks_by_partition": q_drift_ks_by_partition,
        "drift_ks_sketch": q_drift_ks_sketch,
        "drift_psi_lang": q_drift_psi_lang,
        "drift_incremental_tdigest": q_drift_incremental_tdigest,
        "iceberg_roundtrip": q_iceberg_roundtrip,
        "heavy_hitters_mg": q_heavy_hitters_mg,
        "skew_report": q_skew_report,
        "tdigest_exact": q_tdigest_exact,
        "quality_funnel": q_quality_funnel,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q4_semijoin": q_tpch_q4_semijoin,
        "tpch_q5_joins": q_tpch_q5_joins,
        "drift_quantiles": q_drift_quantiles,
        "dedup_exact": q_dedup_exact,
        "dedup_prefix": q_dedup_prefix,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_groups": q_dedup_groups,
        "dedup_minhash_md5": q_dedup_minhash_md5,
        "dedup_simhash_md5": q_dedup_simhash_md5,
        "ann_topk": q_ann_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "doc_fingerprint": q_doc_fingerprint,
        "stratified_sample": q_stratified_sample,
        "url_canonicalize": q_url_canonicalize,
        "events_json_validate": q_events_json_validate,
        "events_json_validate_full": q_events_json_validate_full,
        "events_window": q_events_window,
        "events_sessionize": q_events_sessionize,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "pipeline_clean": q_pipeline_clean,
        # r5 rotation (VERDICT r4 next #3): the five quality operators
        # take the driver's oracle slots this round so CORRECTNESS_r05
        # value-checks them from the driver itself; the five long-green
        # basics they displace move past the window with the identical
        # in-tree DuckDB comparison (tests/test_driver_contract.py).
        "repetition_profile": q_repetition_profile,
        "dup_span_coverage": q_dup_span_coverage,
        "pii_scan": q_pii_scan,
        "contamination_check": q_contamination_check,
        "sequence_packing": q_sequence_packing,
        # --- no_oracle queries (md5/exact twins above; recall gates in
        #     tests/) — keep LAST, outside the driver's sample window ---
        # rows-only by window arithmetic, not by nature: the driver
        # samples exactly 50 entries and all 50 oracle slots are taken.
        # Value-checked twice in pytest (tests/test_compiler_variant.py):
        # row-equal to the oracled UDF twin, and directly vs DuckDB.
        "events_json_validate_variant": q_events_json_validate_variant,
        "events_json_verdicts_variant": q_events_json_verdicts_variant,
        "drift_ks_tdigest": q_drift_ks_tdigest,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_lsh_recall": q_ann_lsh_recall,
        "stream_drift_tdigest": q_stream_drift_tdigest,
        # --- oracled but past the driver's 50-entry sample window
        #     (rotated OUT in r5 — driver-green in CORRECTNESS_r01..r04):
        #     the same rows+schema+values comparison runs in-tree
        #     (tests/test_driver_contract.py) and via tools/check_oracle.py
        "top_terms_df": q_top_terms_df,
        "vector_norms": q_vector_norms,
        "length_histogram": q_length_histogram,
        "window_running": q_window_running,
        "set_ops": q_set_ops,
        # r5: CCNet-style line-level boilerplate dedup (oracled; past
        # the window like the other rotated-out entries)
        "line_dedup": q_line_dedup,
        # r5: retrieval + data-selection operators (oracled; born past
        # the window — all 50 in-window slots taken)
        "bm25_topk": q_bm25_topk,
        "domain_cap": q_domain_cap,
        "dsir_weights": q_dsir_weights,
        # r5: SemDeDup + Gopher rule battery (oracled; past the window)
        "semdedup": q_semdedup,
        "gopher_rules": q_gopher_rules,
        # r5: CCNet LM perplexity + C4 rules (oracled; past the window)
        "lm_perplexity": q_lm_perplexity,
        "c4_rules": q_c4_rules,
        # r5: temperature source mixing (oracled; past the window)
        "temperature_mix": q_temperature_mix,
        # r5: fastText-style hashed-ngram linear quality classifier
        # (oracled; past the window)
        "quality_classifier": q_quality_classifier,
        # r5: cross-snapshot incremental dedup against the persistent
        # fingerprint ledger (oracled; past the window)
        "dedup_incremental": q_dedup_incremental,
        # r5: cross-snapshot NEAR-dup via the LSH band-bucket ledger
        # (oracled; past the window)
        "dedup_incremental_minhash": q_dedup_incremental_minhash,
        # r5: deterministic training-order shard plan (oracled; past
        # the window)
        "shard_plan": q_shard_plan,
        # r5: encoding-artifact signals (oracled; past the window)
        "encoding_artifacts": q_encoding_artifacts,
        # rows-only by NATURE (deflate has no SQL twin); value-pinned
        # vs direct zlib in tests/test_quality.py
        "compression_signal": q_compression_signal,
        # r5: the last two pytest-only components enter the driver
        # surface (VERDICT r4 next #7) — rows-only by nature
        "multimodal_profile": q_multimodal_profile,
        "stream_dedup_stateful": q_stream_dedup_stateful,
        # r5: URL-filtering stage (eTLD+1 + broadcast blocklist)
        "url_domain_filter": q_url_domain_filter,
        # r5: representative selection — keep best-quality doc per
        # near-dup group (policy-aware dedup, not keep-first)
        "dedup_keep_best": q_dedup_keep_best,
        # r5: CCNet head/middle/tail perplexity split
        "perplexity_buckets": q_perplexity_buckets,
        # r5: duplicate-span removal — the transformation coverage
        # only measures; oracle checks the reassembled text itself
        "dup_span_removal": q_dup_span_removal,
        # r5: HTML->text extraction; byte-identity invariant per row
        "html_extract": q_html_extract,
        # r5: crawl-filtering metadata (noindex/canonical/link density)
        "html_metadata": q_html_metadata,
        # r5: host-level link graph from anchor hrefs
        "link_graph": q_link_graph,
        # r5: PageRank power iteration over the host graph
        "pagerank_hosts": q_pagerank,
        # r5: composed rank x quality domain-selection score
        "domain_reputation": q_domain_reputation,
        # r5 flagship closer: the FULL curation pipeline (wrap ->
        # extract -> encoding gate -> quality gate -> exact dedup ->
        # domain quota -> shard assign) as one composed, fully-oracled
        # job — the oracle runs on `text` directly, so the compare
        # proves extraction byte-identity through every stage
        "pipeline_web_curation": q_pipeline_web_curation,
        # r5: WARC segment ingestion — Content-Length-arithmetic
        # parser (Arrow mapInPandas), every recovered record's payload
        # md5-predicted by the oracle from `text`
        "warc_ingest": q_warc_ingest,
        # r5: RAG-style overlapping token-window chunking (zero
        # shuffle; every boundary + chunk md5 oracled)
        "doc_chunking": q_doc_chunking,
        # r5: robots.txt parse + longest-match REP verdicts (oracle is
        # an independent lattice derivation — never parses robots)
        "robots_filter": q_robots_filter,
        # r5: crawl-over-crawl content diff rollup (added/removed/
        # changed/unchanged; null-content edge via eqNullSafe)
        "snapshot_diff": q_snapshot_diff,
        # r5: Unicode script-mix profile (explicit codepoint classes,
        # Java-and-RE2 byte-identical; dominance tie-break oracled)
        "script_mix": q_script_mix,
        # r5: temperature mixing EXECUTED — rates to deterministic
        # sample to achieved-vs-target audit, one job
        "mixture_execute": q_mixture_execute,
        # r5: per-language dataset-datasheet rollup (exact quantiles,
        # quality means, exact-dup counts in ONE groupBy)
        "corpus_datacard": q_corpus_datacard,
        # r5: BPE tokenizer training (Sennrich merges; oracle unrolls
        # the greedy fold as 8 list_reduce rounds) + frozen-merge
        # apply (broadcast vocab map, corpus never rewritten)
        "bpe_train": q_bpe_train,
        "bpe_token_counts": q_bpe_token_counts,
        # r5: fuzzy (edit-distance) decontamination — broadcast
        # length-banded equi-join + thresholded levenshtein
        "fuzzy_contamination": q_fuzzy_contamination,
        # r5: crawl-frontier generation (anchors -> anti-join fetched
        # ledger -> broadcast host scores -> salted politeness cap)
        "crawl_frontier": q_crawl_frontier,
        # r5: classifier threshold-calibration sweep (corpus collapses
        # to a bounded (grid_index, label) table in one groupBy)
        "calibration_sweep": q_calibration_sweep,
        # r5: LSH-configuration audit — estimated vs exact Jaccard on
        # band-bucket candidate pairs (md5 signatures, slice-string
        # band oracle)
        "minhash_fidelity": q_minhash_fidelity,
        # r5: Heaps'-law vocabulary growth over cumulative id-hash
        # chunks (one explode -> first-seen-bucket groupBy)
        "heaps_profile": q_heaps_profile,
        # r5: Zipf rank-frequency top-k + log-log slope
        "zipf_profile": q_zipf_profile,
        # r5: winnowing (MOSS) fingerprints — windowed min-hash
        # selection, rightmost tie-break, pure array exprs
        "winnow_fingerprint": q_winnow_fingerprint,
        # r5: positional inverted-index postings, df-banded
        "postings_index": q_postings_index,
        # r5: Unicode NFC audit — mapInPandas normalize, DuckDB
        # utf8proc twin value-checks the normalized md5
        "nfc_audit": q_nfc_audit,
        # r5: MOSS near-dup pairs over winnowing fingerprints
        # (stop-fp pruned self-join, perturbed-twin fixture)
        "winnow_near_dup": q_winnow_near_dup,
        # r5: Flesch reading-ease battery (codegen projection)
        "readability": q_readability,
        # r5: leakage-safe split — assignment hashes the near-dup
        # GROUP label; leak_groups asserts the invariant in-output
        "leakage_safe_split": q_leakage_safe_split,
        # r5: graded-relevance retrieval metrics (P/R/MRR/NDCG@k) over
        # multi-query BM25 rankings; salted two-stage top-k path
        "retrieval_eval": q_retrieval_eval,
        # r5: inbound anchor-text term profile per target host
        # (lattice-derived oracle, salted per-host top-k)
        "anchor_text": q_anchor_text,
        # r5: per-doc token-distribution entropy + type-token ratio
        "token_entropy": q_token_entropy,
        # r5: PMI bigram collocations (MWE / vocabulary-curation signal)
        "pmi_collocations": q_pmi_collocations,
        # r5: URL-parallel bitext candidate mining (lattice oracle)
        "bitext_candidates": q_bitext_candidates,
        # r5: stupid-backoff trigram LM score (hashed count tables)
        "stupid_backoff": q_stupid_backoff,
        # r5: lang_id-vs-label confusion matrix (argmax heuristic
        # fully mirrored in the generated oracle)
        "lang_confusion": q_lang_confusion,
        # r5: Efraimidis-Spirakis weighted sample without replacement
        "weighted_sample": q_weighted_sample,
        # r5: co-citation related-host pairs (lattice oracle)
        "cocitation": q_cocitation,
        # r5: xxhash64 fast twin of stupid_backoff — rows-only by
        # nature (no SQL xxhash64); md5 twin above is value-checked
        "stupid_backoff_fast": q_stupid_backoff_fast,
        # r5: tokenizer fertility by language (frozen BPE merges)
        "tokenizer_fertility": q_tokenizer_fertility,
        # r5: token-budget quality cut (FineWeb-style threshold)
        "budget_threshold": q_budget_threshold,
        # r5: embedding-norm MAD outlier gate (pre-ANN sanity screen)
        "embedding_outliers": q_embedding_outliers,
        # r5: asymmetric n-gram containment pairs (subset duplication)
        "dedup_containment": q_dedup_containment,
        # r5: functional-dependency constraint (planted-violation
        # lattice fixture)
        "fd_check": q_fd_check,
    }
    return {
        name: _align_oracle_dtypes(name, fn) for name, fn in base.items()
    }


# Driver-hash dtype alignment (VERDICT r5 #1/#2). The driver's result
# hash is value-REPRESENTATION sensitive: a DuckDB bare integer sum()
# is HUGEINT, which pandas delivers as float64 ("25.0"), while Spark's
# long sum arrives as int64 ("25") — bit-equal values, red hash
# (CORRECTNESS_r05: dup_span_coverage / contamination_check /
# sequence_packing). int32-vs-int64 is provably tolerated (ann_topk,
# repetition_profile were driver-green for 5 rounds), but the strict
# in-tree gate (tools/check_oracle.py) aligns those too so in-tree
# green always implies driver green. The cast happens at the declared-
# query boundary — operators keep their semantic types; values are
# unchanged (counts are far below 2^53, exactly representable).
_ORACLE_DTYPE_ALIGN: dict[str, dict[str, str]] = {
    # DuckDB HUGEINT sum() -> pandas float64: Spark side must be double
    "dup_span_coverage": {"dup_spans": "double"},
    "contamination_check": {"hit_spans": "double"},
    "sequence_packing": {"pack_tokens": "double"},
    "line_dedup": {"removed_lines": "double"},
    "html_extract": {"n_byte_identical": "double",
                     "sum_html_chars": "double",
                     "sum_text_chars": "double"},
    "html_metadata": {"n_noindex": "double", "n_canonical": "double",
                      "n_title_ok": "double", "sum_anchors": "double",
                      "sum_anchor_chars": "double",
                      "sum_content_chars": "double"},
    "snapshot_diff": {"chars_delta": "double"},
    "mixture_execute": {"chars_kept": "double"},
    "corpus_datacard": {"n_null_text": "double", "total_chars": "double"},
    "retrieval_eval": {"n_rel": "double", "hits_at_k": "double"},
    # int32 (Spark size()/row_number()/length()) vs DuckDB int64
    "ann_topk": {"rank": "long"},
    "repetition_profile": {"n_grams": "long"},
    "window_running": {"price_rank": "long"},
    "domain_cap": {"rank_in_domain": "long"},
    "quality_classifier": {"n_grams": "long"},
    "dup_span_removal": {"n_tokens": "long", "removed_tokens": "long"},
    "pipeline_web_curation": {"rank_in_domain": "long",
                              "n_chars_kept": "long"},
    "warc_ingest": {"payload_chars": "long"},
    "doc_chunking": {"start_tok": "long", "n_tokens": "long"},
    "crawl_frontier": {"rank_in_domain": "long"},
    "winnow_fingerprint": {"pos": "long"},
    "nfc_audit": {"chars_before": "long", "chars_after": "long",
                  "bytes_before": "long", "bytes_after": "long"},
    "anchor_text": {"rank": "long"},
    "token_entropy": {"n_tokens": "long"},
}


def _align_oracle_dtypes(name, fn):
    casts = _ORACLE_DTYPE_ALIGN.get(name)
    if not casts:
        return fn

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        return df.select(*[
            F.col(c).cast(casts[c]).alias(c) if c in casts else c
            for c in df.columns
        ])

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# CCNet bigram-LM per-doc perplexity as a DuckDB CTE — shared by the
# lm_perplexity oracle and the perplexity_buckets oracle (one source
# of truth for tokenization, hashed LM tables, and scoring).
_LM_PPL_CTE = """
            WITH toks AS (
              SELECT doc_id, (lang = 'en') AS ref,
                     CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents WHERE text IS NOT NULL),
            pos AS (
              SELECT doc_id, ref,
                     ('0x' || substr(md5(t[i.g] || chr(31) || t[i.g+1]
                                         || '#2'), 1, 15))::BIGINT
                       % 4096 AS pair_key,
                     ('0x' || substr(md5(t[i.g] || '#3'), 1, 15))::BIGINT
                       % 4096 AS ctx_key
              FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS i(g)
              WHERE len(t) >= 2),
            pc AS (SELECT pair_key, count(*) AS c_pair
                   FROM pos WHERE ref GROUP BY 1),
            cc AS (SELECT ctx_key, count(*) AS c_ctx
                   FROM pos WHERE ref GROUP BY 1),
            v AS (SELECT count(DISTINCT u.tok) AS v_size
                  FROM toks, UNNEST(t) AS u(tok) WHERE ref),
            scored AS (
              SELECT doc_id,
                     ln((coalesce(c_pair, 0) + 1.0)
                        / (coalesce(c_ctx, 0) + 1.0 * v_size)) AS logp
              FROM pos LEFT JOIN pc USING (pair_key)
                       LEFT JOIN cc USING (ctx_key)
                       CROSS JOIN v),
            per AS (
              SELECT doc_id, count(*) AS n_bigrams,
                     round(exp(-avg(logp)), 6) AS perplexity
              FROM scored GROUP BY doc_id)
"""


# n-gram-Jaccard near-dup groups as a DuckDB recursive CTE — shared by
# the dedup_groups oracle and the dedup_keep_best oracle (one source
# of truth for the pair graph + connected components).
_DEDUP_GROUPS_CTE = """
            WITH RECURSIVE toks AS (
              SELECT doc_id, string_split_regex(trim(text), '[\\s\\x0b]+') AS t
              FROM documents WHERE text IS NOT NULL),
            grams0 AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
              WHERE len(t) >= 3
              UNION
              SELECT doc_id, array_to_string(t, ' ') AS gram
              FROM toks WHERE len(t) < 3),
            hot AS (SELECT gram FROM grams0 GROUP BY gram HAVING count(*) > 5),
            grams AS (
              SELECT * FROM grams0 WHERE gram NOT IN (SELECT gram FROM hot)),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM grams a JOIN grams b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT doc_a, doc_b FROM inter
              JOIN sizes sa ON sa.doc_id = doc_a
              JOIN sizes sb ON sb.doc_id = doc_b
              WHERE round(n_inter / (sa.n_grams + sb.n_grams - n_inter), 6) >= 0.4),
            edges AS (
              SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
            cc(node, label) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, cc.label FROM edges e JOIN cc ON cc.node = e.b)
"""


def _violations_union_sql() -> str:
    parts = [
        f"SELECT doc_id, '{col}' AS col_name, '{kw}' AS keyword "
        f"FROM documents WHERE {pred}"
        for col, kw, pred in _DOC_CHECKS_SQL
    ]
    return " UNION ALL ".join(parts)


def _summary_sql() -> str:
    parts = [
        f"SELECT '{col}' AS col_name, '{kw}' AS keyword, "
        f"count(*) FILTER (WHERE {pred}) AS n_violations, "
        f"count(*) AS n_rows, "
        f"count(*) FILTER (WHERE {pred}) = 0 AS check_pass "
        f"FROM documents"
        for col, kw, pred in _DOC_CHECKS_SQL
    ]
    return " UNION ALL ".join(parts)


def _summary_by_partition_sql() -> str:
    parts = [
        f"SELECT source AS part, '{col}' AS col_name, '{kw}' AS keyword, "
        f"count(*) FILTER (WHERE {pred}) AS n_violations, "
        f"count(*) AS n_rows, "
        f"count(*) FILTER (WHERE {pred}) = 0 AS check_pass "
        f"FROM documents GROUP BY source"
        for col, kw, pred in _DOC_CHECKS_SQL
    ]
    return " UNION ALL ".join(parts)


def _encoding_artifacts_sql() -> str:
    """Encoding-artifact oracle generated from the SAME regex constants
    the Spark query compiles (operators/textstats.MOJIBAKE_RX /
    CONTROL_RX) — parity tested is Java regexp_count vs RE2
    regexp_extract_all on literal digraphs and \\x classes. The damaged
    text is re-derived via chr() codepoints, byte-identical to the
    Spark side's \\u-escaped injections."""
    from json_schema_spark.operators.textstats import (CONTROL_RX,
                                                       MOJIBAKE_RX)

    assert "'" not in MOJIBAKE_RX and "'" not in CONTROL_RX, \
        "regex constants must stay SQL-literal-safe (no single quotes)"
    # " caf\u00c3\u00a9 \u00e2\u0080\u0099ok\u00e2\u0080\u009d" / " \ufffd\ufffd" / " \u0001\u0002"
    moji = ("' caf' || chr(195) || chr(169) || ' ' || chr(226) || "
            "chr(128) || chr(153) || 'ok' || chr(226) || chr(128) || "
            "chr(157)")
    repl = "' ' || chr(65533) || chr(65533)"
    ctrl = "' ' || chr(1) || chr(2)"
    return f"""
        WITH damaged AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 3 = 0 THEN {moji} ELSE '' END
                 || CASE WHEN doc_id % 5 = 0 THEN {repl} ELSE '' END
                 || CASE WHEN doc_id % 7 = 0 THEN {ctrl} ELSE '' END AS t
          FROM documents),
        counted AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(t, '{MOJIBAKE_RX}')) AS BIGINT)
                   AS n_mojibake,
                 CAST(len(regexp_extract_all(t, chr(65533)::VARCHAR)) AS BIGINT)
                   AS n_replacement,
                 CAST(len(regexp_extract_all(t, '{CONTROL_RX}')) AS BIGINT)
                   AS n_control
          FROM damaged)
        SELECT doc_id, n_mojibake, n_replacement, n_control,
               (n_mojibake + n_replacement + n_control) = 0 AS is_clean
        FROM counted
    """


# quality_score(t) as a DuckDB expression over the CTE column `t` —
# the same formula the pipeline_clean oracle runs over `text`
# (textstats.quality_score: length saturation + alpha ratio + low
# punctuation + lexical diversity, rounded to 6).
_QUALITY_T_SQL = """round(
                  0.3 * least(length(t) / 500.0, 1.0)
                + 0.3 * (CASE WHEN length(t) > 0 THEN
                    length(regexp_replace(t, '[^\\p{L}]', '', 'g'))
                      / length(t) ELSE 0 END)
                + 0.2 * (1.0 - least(
                    (CASE WHEN length(t) > 0 THEN
                      length(regexp_replace(t, '[\\p{L}\\p{N}\\s]', '', 'g'))
                        / length(t) ELSE 0 END) * 4, 1.0))
                + 0.2 * (CASE WHEN trim(t) <> ''
                         AND len(string_split_regex(trim(t), '[\\s\\x0b]+')) > 0
                    THEN len(list_distinct(string_split_regex(trim(t), '[\\s\\x0b]+')))
                      / len(string_split_regex(trim(t), '[\\s\\x0b]+'))
                    ELSE 0 END), 6)"""


def _pipeline_web_curation_sql() -> str:
    """pipeline_web_curation oracle: the full curation recipe derived
    from `text` DIRECTLY — no HTML ever built or parsed on this side.
    Because the Spark query routes the same text through wrap_page ->
    extract_text first, every downstream value (artifact counts,
    quality score, content hash, char count, domain rank) matches ONLY
    if extraction is byte-identical — the north-rule invariant checked
    through the entire composition. Gate regexes are generated from
    the SAME constants the Spark side compiles (textstats.MOJIBAKE_RX /
    CONTROL_RX); damage injection re-derived via chr() codepoints."""
    from json_schema_spark.operators.textstats import (CONTROL_RX,
                                                       MOJIBAKE_RX)

    assert "'" not in MOJIBAKE_RX and "'" not in CONTROL_RX, \
        "regex constants must stay SQL-literal-safe (no single quotes)"
    moji = "' caf' || chr(195) || chr(169)"   # " cafÃ©"
    repl = "' ' || chr(65533)"                # " �"
    return f"""
        WITH base AS (
          SELECT doc_id, lang,
                 'src' || CAST(doc_id % 11 AS VARCHAR) || '.com' AS domain,
                 text
                 || CASE WHEN doc_id % 13 = 0 THEN {moji} ELSE '' END
                 || CASE WHEN doc_id % 17 = 0 THEN {repl} ELSE '' END AS t
          FROM documents WHERE text IS NOT NULL),
        clean AS (
          SELECT doc_id, lang, domain, t FROM base
          WHERE len(regexp_extract_all(t, '{MOJIBAKE_RX}')) = 0
            AND len(regexp_extract_all(t, chr(65533)::VARCHAR)) = 0
            AND len(regexp_extract_all(t, '{CONTROL_RX}')) = 0),
        good AS (
          SELECT doc_id, lang, domain, t FROM clean
          WHERE {_QUALITY_T_SQL} >= 0.5),
        surv AS (
          SELECT doc_id, lang, domain, n_chars_kept FROM (
            SELECT doc_id, lang, domain, length(t) AS n_chars_kept,
                   min(doc_id) OVER (PARTITION BY md5(t)) AS keep_id
            FROM good)
          WHERE doc_id = keep_id),
        capped AS (
          SELECT doc_id, lang, domain, n_chars_kept,
                 row_number() OVER (PARTITION BY domain
                                    ORDER BY n_chars_kept DESC, doc_id)
                   AS rank_in_domain
          FROM surv)
        SELECT doc_id, lang, domain, rank_in_domain,
               ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                               1, 15))::BIGINT % 8 AS shard,
               n_chars_kept
        FROM capped WHERE rank_in_domain <= 200
    """


def _warc_ingest_sql() -> str:
    """warc_ingest oracle: predicts every parsed-record field from
    `documents.text` directly — the page is rebuilt via the shared
    _page_sql template, Content-Length via strlen (BYTES, matching the
    spec and Spark's octet_length), payload identity via md5.  The
    oracle never builds or parses a WARC byte stream, so agreement
    means the parser recovered every record byte-exactly."""
    page = _page_sql()
    return f"""
        WITH src AS (
          SELECT doc_id,
                 md5('k:' || CAST(doc_id AS VARCHAR)) AS key,
                 'src' || CAST(doc_id % 11 AS VARCHAR) || '.com' AS domain,
                 text,
                 CAST(floor(doc_id / 8) AS BIGINT) AS chunk_id
          FROM documents WHERE text IS NOT NULL),
        built AS (
          SELECT doc_id, chunk_id, domain, key, {page} AS page FROM src)
        SELECT chunk_id,
               CAST(row_number() OVER (PARTITION BY chunk_id
                                       ORDER BY doc_id) - 1 AS INT)
                 AS rec_seq,
               'response' AS warc_type,
               'https://' || domain || '/d/' || CAST(doc_id AS VARCHAR)
                 AS uri,
               '<urn:md5:' || key || '>' AS rec_id,
               CAST(strlen(page) AS BIGINT) AS content_length,
               md5(page) AS payload_md5,
               length(page) AS payload_chars
        FROM built
    """


def _corpus_datacard_sql() -> str:
    """corpus_datacard oracle: Spark's exact interpolated `percentile`
    is DuckDB's quantile_cont; quality reuses the shared per-row
    formula (_QUALITY_T_SQL, rounded to 6 per row on both sides before
    averaging so summation order cannot flip the rounded mean)."""
    return f"""
        WITH q AS (
          SELECT lang, n_chars, text, text AS t FROM documents)
        SELECT lang,
               count(*) AS n_docs,
               sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                 AS n_null_text,
               sum(n_chars) AS total_chars,
               round(quantile_cont(n_chars, 0.5), 6) AS median_chars,
               round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
               round(avg({_QUALITY_T_SQL}), 6) AS mean_quality,
               count(text) - count(DISTINCT md5(text)) AS n_exact_dups
        FROM q GROUP BY lang
    """


def _script_mix_sql() -> str:
    """script_mix oracle generated from the SAME range constants the
    Spark operator compiles (textstats.SCRIPT_RANGES — explicit
    codepoint classes, the Java-and-RE2 byte-identical subset) and the
    same snippet constants (re-derived via chr() so the SQL text stays
    ASCII-safe); dominance via list_max over (count, name) structs —
    the same lexicographic tie-break Spark's array_max applies."""
    from json_schema_spark.operators.textstats import SCRIPT_RANGES

    def chrs(s: str) -> str:
        return " || ".join(f"chr({ord(c)})" for c in s)

    for rx in SCRIPT_RANGES.values():
        assert "'" not in rx, "ranges must stay SQL-literal-safe"
    counts = ",\n                 ".join(
        f"CAST(len(regexp_extract_all(t, '{rx}')) AS BIGINT) AS n_{n}"
        for n, rx in SCRIPT_RANGES.items())
    structs = ", ".join(
        f"struct_pack(c := n_{n}, s := '{n}')" for n in SCRIPT_RANGES)
    total = " + ".join(f"n_{n}" for n in SCRIPT_RANGES)
    return f"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN {chrs(_CJK_SNIPPET)}
                      ELSE text
                        || CASE WHEN doc_id % 3 = 0
                                THEN {chrs(_CYR_SNIPPET)} ELSE '' END
                        || CASE WHEN doc_id % 7 = 0
                                THEN {chrs(_ARAB_SNIPPET)} ELSE '' END
                 END AS t
          FROM documents),
        counted AS (
          SELECT doc_id, t,
                 {counts}
          FROM base)
        SELECT doc_id,
               {", ".join(f"n_{n}" for n in SCRIPT_RANGES)},
               CASE WHEN t IS NULL THEN NULL
                    WHEN {total} = 0 THEN 'none'
                    ELSE (list_max([{structs}])).s END AS dominant
        FROM counted
    """


def _url_domain_filter_sql() -> str:
    """url_domain_filter oracle generated from the SAME suffix table
    the Spark operator compiles (textstats.MULTI_LABEL_SUFFIXES) and
    the same blocklist — single source of truth. The oracle rebuilds
    the lowercase host arithmetically (userinfo/port never reach the
    host, mixed case lowers away), so it independently checks the
    Spark side's regexp host extraction."""
    from json_schema_spark.operators.textstats import MULTI_LABEL_SUFFIXES

    assert all("'" not in s for s in MULTI_LABEL_SUFFIXES)
    suf_in = ", ".join(f"'{s}'" for s in sorted(MULTI_LABEL_SUFFIXES))
    blocked_in = ", ".join(f"'{b}'" for b in _DOMAIN_BLOCKLIST)
    return f"""
        WITH u AS (
          SELECT doc_id,
                 lower(CASE CAST(doc_id % 3 AS INT)
                         WHEN 0 THEN 'WWW.' WHEN 1 THEN 'cdn.' ELSE '' END
                       || source || '.' ||
                       CASE CAST(doc_id % 5 AS INT)
                         WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                         WHEN 2 THEN 'org' WHEN 3 THEN 'com.au'
                         ELSE 'net' END) AS host
          FROM documents),
        p AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM u),
        d AS (
          SELECT doc_id, host,
                 CASE WHEN len(parts) >= 3
                           AND array_to_string(parts[-2:], '.') IN ({suf_in})
                      THEN array_to_string(parts[-3:], '.')
                      WHEN len(parts) >= 2
                      THEN array_to_string(parts[-2:], '.')
                      ELSE host END AS reg_domain
          FROM p)
        SELECT doc_id, host, reg_domain,
               reg_domain IN ({blocked_in}) AS blocked
        FROM d
    """


def _pii_scan_sql() -> str:
    """PII-scan oracle generated from the SAME pattern table the Spark
    query compiles (operators/quality.PII_PATTERNS) — the parity being
    tested is Java-regex vs RE2 on the Java∩RE2 subset."""
    from json_schema_spark.operators.quality import PII_PATTERNS

    # patterns land inside single-quoted SQL literals below; a future
    # pattern with a quote would silently generate invalid oracle SQL
    # only caught at oracle-run time (ADVICE r4)
    assert all("'" not in p for p in PII_PATTERNS.values()), \
        "PII_PATTERNS must stay SQL-literal-safe (no single quotes)"
    counts = ", ".join(
        f"length(regexp_extract_all(text, '{p}')) AS n_{k}"
        for k, p in PII_PATTERNS.items()
    )
    total = " + ".join(
        f"length(regexp_extract_all(text, '{p}'))" for p in PII_PATTERNS.values()
    )
    red = "text"
    for kind in ("email", "ssn", "phone", "ipv4"):
        red = (f"regexp_replace({red}, '{PII_PATTERNS[kind]}', "
               f"'[PII:{kind}]', 'g')")
    return (
        f"SELECT doc_id, {counts}, {total} AS n_pii, md5({red}) AS redacted_md5 "
        f"FROM documents WHERE text IS NOT NULL"
    )


def _sq(s: str) -> str:  # SQL single-quoted literal
    return "'" + s.replace("'", "''") + "'"


def _page_sql(text_expr: str = "text", key_expr: str = "key",
              domain_expr: str = "domain") -> str:
    """wrap_page (html_extract.py) as a DuckDB expression string over
    CTE columns — generated from the SAME template/entity constants the
    Spark operator compiles; shared by the html_extract and warc_ingest
    oracles so there is one source of truth for the synthetic page."""
    from json_schema_spark.operators.html_extract import _ENCODE

    enc = text_expr
    for raw, ent in _ENCODE:
        enc = f"replace({enc}, {_sq(raw)}, {_sq(ent)})"
    t = f"md5('title:' || {key_expr})"
    return " || ".join([
        _sq('<!DOCTYPE html><html lang="en"><head><title>'), t,
        _sq('</title><meta charset="utf-8"/>'
            '<script type="text/javascript">var k="'), key_expr,
        _sq('";if(k<"0"){k="x"}</script>'
            "<style>.m{color:#fff;margin:0}</style></head>"
            "<body><header><h1>"), t,
        _sq('</h1></header><nav><a href="/">Home</a>'
            '<a href="/about">About</a></nav><!-- warc:'), key_expr,
        _sq(" --><main><p>"), enc,
        _sq("</p></main><aside>Related: "), t,
        _sq("</aside><footer>&copy; 2024 "), domain_expr,
        _sq("</footer></body></html>"),
    ])


def _html_extract_sql() -> str:
    """html_extract oracle generated from the SAME constants the Spark
    operator uses (html_extract.BOILERPLATE_BLOCKS/_ENCODE/_DECODE/
    block_pattern) — single source of truth for patterns and entity
    tables; parity tested is Java regex vs RE2 on the shared subset
    (inline (?s), lazy quantifiers, no backreferences)."""
    from json_schema_spark.operators.html_extract import (
        _DECODE, BOILERPLATE_BLOCKS, block_pattern,
    )

    sq = _sq
    page = _page_sql()
    ext = "page"
    for pat in [r"(?s)<!--.*?-->"] + [block_pattern(b) for b in BOILERPLATE_BLOCKS] \
            + [r"<[^>]+>"]:
        assert "'" not in pat, "patterns must stay SQL-literal-safe"
        ext = f"regexp_replace({ext}, {sq(pat)}, '', 'g')"
    for ent, raw in _DECODE:
        ext = f"replace({ext}, {sq(ent)}, {sq(raw)})"
    return f"""
        WITH src AS (
          SELECT lang, text,
                 md5('k:' || CAST(doc_id AS VARCHAR)) AS key,
                 'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain
          FROM documents WHERE text IS NOT NULL),
        built AS (SELECT lang, text, {page} AS page FROM src),
        ext AS (SELECT lang, text, page, {ext} AS extracted FROM built)
        SELECT lang, count(*) AS n_docs,
               sum(CASE WHEN extracted = text THEN 1 ELSE 0 END) AS n_byte_identical,
               sum(length(page)) AS sum_html_chars,
               sum(length(text)) AS sum_text_chars,
               round(CAST(sum(length(page)) AS DOUBLE) / sum(length(text)), 6)
                 AS markup_ratio
        FROM ext GROUP BY lang ORDER BY lang
    """


def _html_metadata_sql() -> str:
    """html_metadata oracle, generated from the same constants as the
    Spark operator (wrap_page_meta's template + the metadata regexes).
    The per-row metadata derivations (noindex id%7, canonical id%3,
    extra anchors id%5) are rebuilt verbatim."""
    from json_schema_spark.operators.html_extract import (
        _DECODE, _ENCODE, ANCHOR_RE, BOILERPLATE_BLOCKS, CANONICAL_RE,
        NOINDEX_RE, TITLE_RE, block_pattern,
    )

    def sq(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    enc = "text"
    for raw, ent in _ENCODE:
        enc = f"replace({enc}, {sq(raw)}, {sq(ent)})"
    t = "md5('title:' || key)"
    robots = ("CASE WHEN doc_id % 7 = 0 THEN "
              + sq('<meta name="robots" content="noindex,nofollow"/>')
              + " ELSE '' END")
    canon = ("CASE WHEN doc_id % 3 = 0 THEN "
             + sq('<link rel="canonical" href="')
             + " || 'https://' || domain || '/c/' || key || " + sq('"/>')
             + " ELSE '' END")
    extra_anchor = sq('<a href="/p">more links here</a>')
    extra = f"repeat({extra_anchor}, CAST(doc_id % 5 AS INT))"
    page = " || ".join([
        sq('<!DOCTYPE html><html lang="en"><head><title>'), t,
        sq('</title><meta charset="utf-8"/>'), robots, canon,
        sq('<script type="text/javascript">var k="'), "key",
        sq('";if(k<"0"){k="x"}</script>'
           "<style>.m{color:#fff;margin:0}</style></head>"
           "<body><header><h1>"), t,
        sq('</h1></header><nav><a href="/">Home</a>'
           '<a href="/about">About</a>'), extra,
        sq("</nav><!-- warc:"), "key",
        sq(" --><main><p>"), enc,
        sq("</p></main><aside>Related: "), t,
        sq("</aside><footer>&copy; 2024 "), "domain",
        sq("</footer></body></html>"),
    ])
    ext = "page"
    for pat in [r"(?s)<!--.*?-->"] + [block_pattern(b) for b in BOILERPLATE_BLOCKS] \
            + [r"<[^>]+>"]:
        ext = f"regexp_replace({ext}, {sq(pat)}, '', 'g')"
    for ent, raw in _DECODE:
        ext = f"replace({ext}, {sq(ent)}, {sq(raw)})"
    title = f"regexp_extract(page, {sq(TITLE_RE)}, 1)"
    for ent, raw in _DECODE:
        title = f"replace({title}, {sq(ent)}, {sq(raw)})"
    return f"""
        WITH src AS (
          SELECT doc_id, lang, text,
                 md5('k:' || CAST(doc_id AS VARCHAR)) AS key,
                 'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain
          FROM documents WHERE text IS NOT NULL),
        built AS (SELECT doc_id, lang, text, key, {page} AS page FROM src),
        sig AS (
          SELECT lang,
                 CASE WHEN regexp_matches(page, {sq(NOINDEX_RE)})
                      THEN 1 ELSE 0 END AS noindex,
                 CASE WHEN regexp_extract(page, {sq(CANONICAL_RE)}, 1) <> ''
                      THEN 1 ELSE 0 END AS canon,
                 CASE WHEN {title} = md5('title:' || key)
                      THEN 1 ELSE 0 END AS title_ok,
                 length(regexp_extract_all(page, {sq(ANCHOR_RE)}, 1)) AS n_anchors,
                 length(array_to_string(
                     regexp_extract_all(page, {sq(ANCHOR_RE)}, 1), '')) AS anchor_chars,
                 length({ext}) AS content_chars
          FROM built)
        SELECT lang, count(*) AS n_docs,
               sum(noindex) AS n_noindex, sum(canon) AS n_canonical,
               sum(title_ok) AS n_title_ok, sum(n_anchors) AS sum_anchors,
               sum(anchor_chars) AS sum_anchor_chars,
               sum(content_chars) AS sum_content_chars,
               round(CAST(sum(anchor_chars) AS DOUBLE) / sum(content_chars), 6)
                 AS link_density
        FROM sig GROUP BY lang ORDER BY lang
    """


# per-doc quality score, the SQL twin of textstats.quality_score —
# shared by the text_quality and domain_reputation oracles (single
# source for the formula)
_QUALITY_SQL = """round(
                  0.3 * least(length(text) / 500.0, 1.0)
                + 0.3 * (CASE WHEN length(text) > 0 THEN
                    length(regexp_replace(text, '[^\\p{L}]', '', 'g'))
                      / length(text) ELSE 0 END)
                + 0.2 * (1.0 - least(
                    (CASE WHEN length(text) > 0 THEN
                      length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
                        / length(text) ELSE 0 END) * 4, 1.0))
                + 0.2 * (CASE WHEN trim(text) <> ''
                         AND len(string_split_regex(trim(text), '[\\s\\x0b]+')) > 0
                    THEN len(list_distinct(string_split_regex(trim(text), '[\\s\\x0b]+')))
                      / len(string_split_regex(trim(text), '[\\s\\x0b]+'))
                    ELSE 0 END), 6)"""


def _pagerank_sql(damping: float = 0.85, iters: int = 10) -> str:
    """PageRank oracle: the power iteration UNROLLED as chained CTEs
    (pr0..pr{iters}) over the independently-derived lattice edges —
    plain SQL, no recursion, same double arithmetic ((1 - 0.85) stays
    an expression so both engines bind the identical binary double).
    Dangling mass is a scalar subquery per step, mirroring the Spark
    operator's per-iteration scalar aggregate. Every step CTE is AS
    MATERIALIZED: DuckDB inlines CTEs by default and each step
    references its predecessor 3x, so the inlined expression tree
    grows ~4^iters (measured: 6 unrolled inline steps already cost
    7 s; materialized, 10 steps are instant)."""
    head = f"""
        WITH links AS (
          SELECT 'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS src_d,
                 'example' || CAST((doc_id + j) % 7 AS VARCHAR) || '.com' AS dst_d
          FROM documents, unnest(range(1, CAST(doc_id % 3 AS BIGINT) + 2)) AS t(j)
          WHERE text IS NOT NULL),
        e AS (SELECT src_d, dst_d, count(*) AS n FROM links GROUP BY 1, 2),
        o AS (SELECT src_d, sum(n) AS out_w FROM e GROUP BY 1),
        nodes AS (SELECT DISTINCT domain FROM
                  (SELECT src_d AS domain FROM e
                   UNION ALL SELECT dst_d FROM e)),
        nn AS (SELECT count(*) AS n FROM nodes),
        pr0 AS MATERIALIZED (
          SELECT domain, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        p = f"pr{k - 1}"
        steps.append(f""",
        {f'pr{k}'} AS MATERIALIZED (
          SELECT nd.domain,
                 (1 - {damping}) / (SELECT n FROM nn)
                 + {damping} * (
                     coalesce(c.in_c, 0.0)
                     + (SELECT coalesce(sum(p.rank), 0.0) FROM {p} p
                        WHERE p.domain NOT IN (SELECT src_d FROM o))
                       / (SELECT n FROM nn))
                 AS rank
          FROM nodes nd LEFT JOIN (
            SELECT e.dst_d AS domain, sum(p.rank * e.n / o.out_w) AS in_c
            FROM e JOIN o ON e.src_d = o.src_d
                   JOIN {p} p ON p.domain = e.src_d
            GROUP BY 1) c ON nd.domain = c.domain)""")
    return (head + "".join(steps)
            + f"""
        SELECT domain, round(rank, 6) AS pagerank
        FROM pr{iters} ORDER BY domain""")


def _domain_reputation_sql(damping: float = 0.85, iters: int = 10) -> str:
    """domain_reputation oracle: the pagerank CTE chain extended with
    the shared per-doc quality expression, joined on domain. Both
    factors are rounded BEFORE the product so the composite is
    bitwise reproducible on any partitioning/engine."""
    pr = _pagerank_sql(damping, iters)
    ctes = pr[:pr.rindex("SELECT")]  # strip the final SELECT, keep CTEs
    return (ctes + f""", q AS (
          SELECT 'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain,
                 {_QUALITY_SQL} AS quality
          FROM documents WHERE text IS NOT NULL),
        qa AS (
          SELECT domain, count(*) AS n_docs,
                 round(avg(quality), 4) AS avg_quality
          FROM q GROUP BY 1)
        SELECT qa.domain, n_docs, avg_quality,
               round(p.rank, 6) AS pagerank,
               round(round(p.rank, 6) * avg_quality, 6) AS reputation
        FROM qa JOIN pr{iters} p ON qa.domain = p.domain
        ORDER BY 1""")


def _semdedup_sql() -> str:
    """SemDeDup oracle generated from the SAME seeded centroids the
    Spark query inlines (similarity.seeded_unit_centroids rounds every
    component to 6dp, so the SQL-literal round trip reproduces the
    exact doubles; cosine parity at round(6) is the same contract the
    green ann_topk / embedding_near_dup oracles rely on)."""
    from json_schema_spark.operators.similarity import seeded_unit_centroids

    cents = seeded_unit_centroids(64, SEMDEDUP_CLUSTERS, seed=SEMDEDUP_SEED)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
        WITH cents(cid, cv) AS (VALUES {values}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE embedding IS NOT NULL),
        scored AS (
          SELECT vec_id, v, cid,
                 round(list_cosine_similarity(v, cv), 6) AS cos
          FROM e CROSS JOIN cents),
        assigned AS (
          SELECT vec_id, v, cid AS cluster_id, cos AS sim_centroid
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                FROM scored)
          WHERE rn = 1),
        dups AS (
          SELECT DISTINCT x.vec_id
          FROM assigned x JOIN assigned y
            ON x.cluster_id = y.cluster_id
           AND ((y.sim_centroid < x.sim_centroid)
                OR (y.sim_centroid = x.sim_centroid AND y.vec_id < x.vec_id))
           AND round(list_cosine_similarity(x.v, y.v), 6)
               >= {SEMDEDUP_THRESHOLD})
        SELECT a.vec_id, a.cluster_id, a.sim_centroid,
               (d.vec_id IS NOT NULL) AS is_dup
        FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """


# fastText-classifier score CTE chain (toks -> grams -> hashed
# placeholder weights -> per-doc mean) — shared by the
# quality_classifier oracle and the calibration_sweep oracle (one
# source of truth for tokenization, bucketing, and pooling).
_CLASSIFIER_SCORE_CTES = """toks AS (
              SELECT doc_id, CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents WHERE text IS NOT NULL),
            grams AS (
              SELECT doc_id, u.g AS g FROM toks, UNNEST(t) AS u(g)
              UNION ALL
              SELECT doc_id, t[i.g] || chr(31) || t[i.g+1] AS g
              FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS i(g)
              WHERE len(t) >= 2),
            wts AS (
              SELECT doc_id,
                     ('0x' || substr(md5('w#' || CAST(
                        ('0x' || substr(md5(g || '#7'), 1, 15))::BIGINT
                          % 4096 AS VARCHAR)), 1, 15))::BIGINT
                       / 1152921504606846976.0 * 2 - 1 AS w
              FROM grams),
            per AS (
              SELECT doc_id, count(*) AS n_grams, avg(w) AS raw
              FROM wts GROUP BY doc_id)"""


# Exact KS of n_chars, each source vs the rest, over the full
# partition x value grid; {ks} names the statistic's column.
_KS_BY_PARTITION_SQL = """
            WITH cells AS (
              SELECT source AS part, n_chars AS v, count(*) AS cnt
              FROM documents
              WHERE source IS NOT NULL AND n_chars IS NOT NULL
              GROUP BY 1, 2),
            pt AS (SELECT part, sum(cnt) AS n_part FROM cells GROUP BY 1),
            vs AS (SELECT v, sum(cnt) AS n_v FROM cells GROUP BY 1),
            g AS (SELECT sum(cnt) AS n_total FROM cells),
            grid AS (
              SELECT pt.part, vs.v, pt.n_part,
                     COALESCE(cells.cnt, 0) AS cnt,
                     vs.n_v - COALESCE(cells.cnt, 0) AS cnt_rest
              FROM pt CROSS JOIN vs
              LEFT JOIN cells ON cells.part = pt.part AND cells.v = vs.v),
            cdf AS (
              SELECT part, n_part,
                     sum(cnt) OVER (PARTITION BY part ORDER BY v) AS cum_in,
                     sum(cnt_rest) OVER (PARTITION BY part ORDER BY v) AS cum_rest
              FROM grid CROSS JOIN g)
            SELECT part,
                   CAST(max(n_part) AS BIGINT) AS n_rows,
                   round(max(abs(cum_in / n_part
                                 - cum_rest / NULLIF((SELECT n_total FROM g) - n_part, 0))), 6) AS {ks}
            FROM cdf
            GROUP BY part
        """


def oracle_sql() -> dict[str, str]:
    return {
        "constraint_summary": _summary_sql(),
        "constraint_by_partition": _summary_by_partition_sql(),
        "constraint_violations": _violations_union_sql(),
        "column_stats": """
            SELECT lang,
                   count(*) AS n_rows,
                   count(*) FILTER (WHERE text IS NULL) AS n_null_text,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars,
                   round(avg(n_chars), 4) AS avg_chars,
                   count(DISTINCT source) AS n_sources
            FROM documents GROUP BY lang
        """,
        "stats_rollup": """
            SELECT lang, source,
                   GROUPING(lang, source) AS gid,
                   count(*) AS n_rows,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY ROLLUP (lang, source)
        """,
        "unique_check": """
            SELECT lang, n_chars, count(*) AS dup_count
            FROM documents GROUP BY lang, n_chars HAVING count(*) > 1
        """,
        "ref_lang": """
            SELECT doc_id, lang FROM documents
            WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr')
        """,
        "tdigest_exact": """
            SELECT source AS part,
                   CAST(n_chars AS DOUBLE) AS n_chars,
                   CAST(sum(count(*)) OVER (PARTITION BY source ORDER BY n_chars)
                        AS BIGINT) AS cnt_le
            FROM documents
            WHERE n_chars IS NOT NULL AND source IS NOT NULL
            GROUP BY source, n_chars
        """,
        "skew_report": """
            WITH c AS (
                SELECT 'lang' AS key, lang AS k, count(*) AS n
                FROM documents WHERE lang IS NOT NULL GROUP BY lang
                UNION ALL
                SELECT 'source' AS key, source AS k, count(*) AS n
                FROM documents WHERE source IS NOT NULL GROUP BY source
            )
            SELECT key,
                   CAST(sum(n) AS BIGINT) AS n_rows,
                   count(*) AS n_keys,
                   CAST(max(n) AS BIGINT) AS max_key_rows,
                   round(max(n) / avg(n), 4) AS skew_factor,
                   round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top_share,
                   CAST(ceil(max(n) / 100.0) AS BIGINT) AS salt_buckets
            FROM c GROUP BY key
        """,
        "heavy_hitters_mg": """
            SELECT source AS part, lang, count(*) AS cnt
            FROM documents
            WHERE lang IS NOT NULL AND source IS NOT NULL
            GROUP BY source, lang
        """,
        "length_histogram": """
            SELECT CAST(floor(n_chars / 50) AS BIGINT) AS bucket,
                   count(*) AS n_docs,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM documents WHERE n_chars IS NOT NULL
            GROUP BY bucket
        """,
        "quality_funnel": """
            SELECT count(*) AS n_total,
                   CAST(count(*) FILTER (WHERE text IS NOT NULL AND length(text) > 0) AS BIGINT) AS n_has_text,
                   CAST(count(*) FILTER (WHERE n_chars BETWEEN 100 AND 20000) AS BIGINT) AS n_len_ok,
                   CAST(count(*) FILTER (WHERE lang IN ('en','de','fr','es')) AS BIGINT) AS n_lang_ok,
                   CAST(count(*) FILTER (WHERE text IS NOT NULL AND length(text) > 0
                         AND n_chars BETWEEN 100 AND 20000
                         AND lang IN ('en','de','fr','es')) AS BIGINT) AS n_pass_all
            FROM documents
        """,
        "vector_norms": """
            WITH e AS (
                SELECT label,
                       list_sum(list_transform(embedding,
                                x -> CAST(x AS DOUBLE) * x)) AS self_dot
                FROM embeddings WHERE embedding IS NOT NULL
            )
            SELECT label,
                   count(*) AS n_vecs,
                   round(avg(sqrt(self_dot)), 6) AS avg_norm,
                   round(max(self_dot), 6) AS max_self_dot
            FROM e GROUP BY label
        """,
        "top_terms_df": """
            SELECT term, count(*) AS df FROM (
                SELECT DISTINCT doc_id,
                       unnest(string_split_regex(text, '[\\s\\x0b]+')) AS term
                FROM documents WHERE text IS NOT NULL
            ) WHERE term <> ''
            GROUP BY term ORDER BY df DESC, term LIMIT 20
        """,
        "iceberg_roundtrip": """
            SELECT source, lang,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(doc_id) AS min_doc_id
            FROM documents
            WHERE source IN ('src1','src7','src12') AND n_chars >= 100
            GROUP BY source, lang
        """,
        "heavy_hitters": """
            WITH counts AS (
              SELECT lang AS grp, n_chars, count(*) AS n
              FROM documents WHERE n_chars IS NOT NULL
              GROUP BY 1, 2),
            ranked AS (
              SELECT grp AS lang, n_chars, n,
                     row_number() OVER (
                       PARTITION BY grp ORDER BY n DESC, n_chars) AS rank
              FROM counts)
            SELECT lang, n_chars, n, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "cardinality_profile": """
            SELECT 'lang' AS col_name, count(DISTINCT lang) AS n_distinct,
                   count(*) FILTER (WHERE lang IS NULL) AS n_nulls,
                   count(*) AS n_rows FROM documents
            UNION ALL
            SELECT 'source', count(DISTINCT source),
                   count(*) FILTER (WHERE source IS NULL), count(*) FROM documents
            UNION ALL
            SELECT 'n_chars', count(DISTINCT n_chars),
                   count(*) FILTER (WHERE n_chars IS NULL), count(*) FROM documents
        """,
        "drift_chi2_lang": """
            WITH cells AS (
              SELECT source AS part, lang AS cat, count(*) AS obs
              FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
              GROUP BY 1, 2),
            pt AS (SELECT part, sum(obs) AS n_part FROM cells GROUP BY 1),
            ct AS (SELECT cat, sum(obs) AS n_cat FROM cells GROUP BY 1),
            g AS (SELECT sum(obs) AS n_total FROM cells),
            grid AS (
              SELECT pt.part, ct.cat, pt.n_part, ct.n_cat,
                     COALESCE(cells.obs, 0) AS obs
              FROM pt CROSS JOIN ct
              LEFT JOIN cells ON cells.part = pt.part AND cells.cat = ct.cat)
            SELECT part,
                   round(sum(pow(obs - n_part*n_cat/n_total, 2)
                             / (n_part*n_cat/n_total)), 4) AS chi2,
                   count(*) - 1 AS dof,
                   CAST(max(n_part) AS BIGINT) AS n_rows
            FROM grid CROSS JOIN g
            GROUP BY part
        """,
        "drift_psi_lang": """
            WITH cells AS (
              SELECT source AS part, lang AS cat, count(*) AS obs
              FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
              GROUP BY 1, 2),
            pt AS (SELECT part, sum(obs) AS n_part FROM cells GROUP BY 1),
            ct AS (SELECT cat, sum(obs) AS n_cat FROM cells GROUP BY 1),
            g AS (SELECT sum(obs) AS n_total FROM cells),
            grid AS (
              SELECT pt.part, pt.n_part,
                     COALESCE(cells.obs, 0) AS obs,
                     ct.n_cat - COALESCE(cells.obs, 0) AS obs_rest,
                     (SELECT n_total FROM g) - pt.n_part AS n_rest
              FROM pt CROSS JOIN ct
              LEFT JOIN cells ON cells.part = pt.part AND cells.cat = ct.cat)
            SELECT part,
                   round(sum((greatest(obs / n_part, 1e-6)
                              - greatest(obs_rest / n_rest, 1e-6))
                             * ln(greatest(obs / n_part, 1e-6)
                                  / greatest(obs_rest / n_rest, 1e-6))), 6) AS psi,
                   CAST(max(n_part) AS BIGINT) AS n_rows
            FROM grid GROUP BY part
        """,
        # the sketch KS runs its KLL sketches in the exact regime
        "drift_ks_sketch": _KS_BY_PARTITION_SQL.format(ks="ks_est"),
        "drift_ks_by_partition": _KS_BY_PARTITION_SQL.format(ks="ks"),
        "drift_incremental_tdigest": """
            WITH t AS (
              SELECT n_chars AS v,
                     CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_new
              FROM documents
              WHERE source IS NOT NULL AND n_chars IS NOT NULL),
            pv AS (SELECT v, sum(is_new) AS cn, sum(1 - is_new) AS ch
                   FROM t GROUP BY v),
            cdf AS (SELECT sum(cn) OVER (ORDER BY v) AS cum_n,
                           sum(ch) OVER (ORDER BY v) AS cum_h
                    FROM pv),
            tot AS (SELECT max(cum_n) AS nn, max(cum_h) AS nh FROM cdf)
            SELECT CAST(max(nn) AS BIGINT) AS n_new,
                   CAST(max(nh) AS BIGINT) AS n_hist,
                   round(max(abs(cum_n / nn - cum_h / nh)), 6) AS ks
            FROM cdf CROSS JOIN tot
        """,
        "drift_ks_chars": """
            WITH t AS (
              SELECT n_chars AS v,
                     CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_a
              FROM documents
              WHERE source IN ('src0','src1') AND n_chars IS NOT NULL),
            pv AS (SELECT v, sum(is_a) AS cnt_a, sum(1 - is_a) AS cnt_b
                   FROM t GROUP BY v),
            cdf AS (SELECT sum(cnt_a) OVER (ORDER BY v) AS cum_a,
                           sum(cnt_b) OVER (ORDER BY v) AS cum_b
                    FROM pv),
            tot AS (SELECT max(cum_a) AS na, max(cum_b) AS nb FROM cdf)
            SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                   round(max(abs(cum_a / na - cum_b / nb)), 6) AS ks
            FROM cdf CROSS JOIN tot
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "tpch_q4_semijoin": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1995-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_quantity >= 25)
            GROUP BY o_orderpriority
        """,
        "tpch_q5_joins": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE c_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "window_running": """
            WITH base AS (SELECT * FROM orders WHERE o_custkey < 50)
            SELECT o_custkey, o_orderkey, running_total, price_rank FROM (
              SELECT o_custkey, o_orderkey,
                     round(sum(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                       AS running_total,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
              FROM base)
            WHERE price_rank <= 3
        """,
        "set_ops": """
            WITH en AS (SELECT DISTINCT source FROM documents WHERE lang = 'en'),
                 zh AS (SELECT DISTINCT source FROM documents WHERE lang = 'zh')
            SELECT source, 'en_only' AS tag FROM (SELECT * FROM en EXCEPT SELECT * FROM zh)
            UNION ALL
            SELECT source, 'both' AS tag FROM (SELECT * FROM en INTERSECT SELECT * FROM zh)
        """,
        "drift_quantiles": """
            SELECT source,
                   round(quantile_cont(n_chars, 0.1), 4) AS p10,
                   round(quantile_cont(n_chars, 0.25), 4) AS p25,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.75), 4) AS p75,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90
            FROM documents WHERE n_chars IS NOT NULL
            GROUP BY source
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, count(*) AS n_dups,
                   min(doc_id) AS keep_id
            FROM documents WHERE text IS NOT NULL
            GROUP BY md5(text) HAVING count(*) > 1
        """,
        "dedup_prefix": """
            SELECT array_to_string(
                     string_split_regex(trim(text), '[\\s\\x0b]+')[1:3], ' ') AS prefix_key,
                   count(*) AS n_docs, min(doc_id) AS keep_id
            FROM documents WHERE text IS NOT NULL
            GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_ngram_jaccard": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '[\\s\\x0b]+') AS t
              FROM documents WHERE text IS NOT NULL),
            grams0 AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
              WHERE len(t) >= 3
              UNION
              SELECT doc_id, array_to_string(t, ' ') AS gram
              FROM toks WHERE len(t) < 3),
            hot AS (SELECT gram FROM grams0 GROUP BY gram HAVING count(*) > 5),
            grams AS (
              SELECT * FROM grams0
              WHERE gram NOT IN (SELECT gram FROM hot)),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM grams a JOIN grams b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b, n_inter,
                   round(n_inter / (sa.n_grams + sb.n_grams - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(n_inter / (sa.n_grams + sb.n_grams - n_inter), 6) >= 0.01
        """,
        "dedup_containment": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '[\\s\\x0b]+') AS t
              FROM documents WHERE text IS NOT NULL),
            grams0 AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
              WHERE len(t) >= 3
              UNION
              SELECT doc_id, array_to_string(t, ' ') AS gram
              FROM toks WHERE len(t) < 3),
            hot AS (SELECT gram FROM grams0 GROUP BY gram HAVING count(*) > 5),
            grams AS (
              SELECT * FROM grams0
              WHERE gram NOT IN (SELECT gram FROM hot)),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM grams a JOIN grams b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b, n_inter,
                   sa.n_grams AS n_a, sb.n_grams AS n_b,
                   round(n_inter / least(sa.n_grams, sb.n_grams), 6)
                     AS containment,
                   round(n_inter / sa.n_grams, 6) AS frac_a_in_b,
                   round(n_inter / sb.n_grams, 6) AS frac_b_in_a
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(n_inter / least(sa.n_grams, sb.n_grams), 6) >= 0.2
        """,
        "fd_check": """
            WITH d AS (
              SELECT 'h' || CAST(doc_id % 13 AS VARCHAR) AS det,
                     CASE WHEN doc_id % 89 = 0 THEN 'odd'
                          ELSE 'v' || CAST(doc_id % 13 AS VARCHAR)
                     END AS dep
              FROM documents)
            SELECT det,
                   count(DISTINCT dep)
                     + max(CASE WHEN dep IS NULL THEN 1 ELSE 0 END)
                     AS n_dep_values,
                   count(*) AS n_rows
            FROM d WHERE det IS NOT NULL
            GROUP BY det
            HAVING count(DISTINCT dep)
                     + max(CASE WHEN dep IS NULL THEN 1 ELSE 0 END) > 1
        """,
        "dedup_groups": _DEDUP_GROUPS_CTE + """
            SELECT node, CAST(min(label) AS BIGINT) AS grp
            FROM cc GROUP BY node
        """,
        "dedup_keep_best": _DEDUP_GROUPS_CTE + """,
            grp AS (
              SELECT node, CAST(min(label) AS BIGINT) AS grp
              FROM cc GROUP BY node),
            q AS (
              SELECT doc_id,
                round(
                  0.3 * least(length(text) / 500.0, 1.0)
                + 0.3 * (CASE WHEN length(text) > 0 THEN
                    length(regexp_replace(text, '[^\\p{L}]', '', 'g'))
                      / length(text) ELSE 0 END)
                + 0.2 * (1.0 - least(
                    (CASE WHEN length(text) > 0 THEN
                      length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
                        / length(text) ELSE 0 END) * 4, 1.0))
                + 0.2 * (CASE WHEN trim(text) <> ''
                         AND len(string_split_regex(trim(text), '[\\s\\x0b]+')) > 0
                    THEN len(list_distinct(string_split_regex(trim(text), '[\\s\\x0b]+')))
                      / len(string_split_regex(trim(text), '[\\s\\x0b]+'))
                    ELSE 0 END), 6) AS q
              FROM documents WHERE text IS NOT NULL),
            lab AS (
              SELECT q.doc_id, q.q, coalesce(grp.grp, q.doc_id) AS grp
              FROM q LEFT JOIN grp ON grp.node = q.doc_id)
            SELECT doc_id, grp, q,
                   (row_number() OVER (
                      PARTITION BY grp ORDER BY q DESC, doc_id) = 1) AS kept
            FROM lab
        """,
        "dedup_minhash_md5": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '[\\s\\x0b]+') AS t
              FROM documents WHERE text IS NOT NULL),
            grams AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
              WHERE len(t) >= 3
              UNION
              SELECT doc_id, array_to_string(t, ' ') AS gram
              FROM toks WHERE len(t) < 3)
            SELECT doc_id AS doc,
                   min(('0x' || substr(md5(gram || ':0'), 1, 15))::BIGINT) AS s0,
                   min(('0x' || substr(md5(gram || ':1'), 1, 15))::BIGINT) AS s1,
                   min(('0x' || substr(md5(gram || ':2'), 1, 15))::BIGINT) AS s2,
                   min(('0x' || substr(md5(gram || ':3'), 1, 15))::BIGINT) AS s3,
                   min(('0x' || substr(md5(gram || ':4'), 1, 15))::BIGINT) AS s4,
                   min(('0x' || substr(md5(gram || ':5'), 1, 15))::BIGINT) AS s5,
                   min(('0x' || substr(md5(gram || ':6'), 1, 15))::BIGINT) AS s6,
                   min(('0x' || substr(md5(gram || ':7'), 1, 15))::BIGINT) AS s7
            FROM grams GROUP BY doc_id
        """,
        "dedup_simhash_md5": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(text), '[\\s\\x0b]+')) AS t
              FROM documents WHERE text IS NOT NULL),
            h AS (
              SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS th
              FROM toks),
            bits AS (
              SELECT doc_id, b,
                     sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM h, UNNEST(generate_series(0, 59)) AS g(b)
              GROUP BY doc_id, b)
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        """,
        "ann_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
              FROM e q JOIN e c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 5),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, cos_sim, rank
            FROM ranked WHERE rank <= 5
        """,
        "embedding_near_dup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
        """,
        "text_quality": f"""
            WITH q AS (
              SELECT lang, {_QUALITY_SQL} AS quality
              FROM documents WHERE text IS NOT NULL)
            SELECT lang, count(*) AS n_docs,
                   round(avg(quality), 4) AS avg_quality,
                   round(min(quality), 4) AS min_quality
            FROM q GROUP BY lang
        """,
        "token_counts": """
            SELECT lang,
                   CAST(sum(CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '[\\s\\x0b]+')) END) AS BIGINT) AS total_tokens,
                   round(avg(CASE WHEN trim(text) = '' THEN 0
                             ELSE len(string_split_regex(trim(text), '[\\s\\x0b]+')) END), 4) AS avg_tokens,
                   CAST(sum(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s\\x0b]'))) AS BIGINT) AS total_regex_tokens
            FROM documents WHERE text IS NOT NULL
            GROUP BY lang
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text),
                       '[^\\p{L}\\p{N}]+', ' ', 'g'))) AS fp
            FROM documents WHERE text IS NOT NULL
        """,
        "stratified_sample": """
            WITH rated AS (
              SELECT doc_id, lang,
                     CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000
                               WHEN 'fr' THEN 1000000 ELSE 100000 END AS keep_below,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#7'), 1, 15))::BIGINT
                       % 1000000 AS bucket
              FROM documents)
            SELECT doc_id, lang FROM rated WHERE bucket < keep_below
        """,
        "url_canonicalize": r"""
            WITH u0 AS (
              SELECT doc_id,
                     'HTTPS://ExAmple.COM:443/' || lang || '/doc/' ||
                     CAST(doc_id AS VARCHAR) || '?q=1#Section-' ||
                     CAST(doc_id AS VARCHAR) AS url
              FROM documents),
            u AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS v FROM u0),
            parts AS (
              SELECT doc_id, v,
                     lower(regexp_extract(v, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
                     lower(regexp_extract(v, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS host,
                     regexp_extract(v, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(.*)$', 1) AS rest
              FROM u)
            SELECT doc_id,
                   CASE WHEN scheme = '' THEN v
                        ELSE scheme || '://' ||
                             CASE WHEN scheme = 'http' THEN regexp_replace(host, ':80$', '')
                                  WHEN scheme = 'https' THEN regexp_replace(host, ':443$', '')
                                  ELSE host END || rest
                   END AS curl
            FROM parts
        """,
        "events_json_validate": """
            SELECT event_type, count(*) AS n_rows,
                   count(*) FILTER (WHERE NOT (
                     json_extract_string(props, '$.k') IS NOT NULL
                     AND try_cast(json_extract_string(props, '$.k') AS BIGINT)
                         IS NOT NULL
                     AND try_cast(json_extract_string(props, '$.k') AS BIGINT)
                         BETWEEN 0 AND 50)) AS n_violations
            FROM events GROUP BY event_type
        """,
        "events_json_validate_full": """
            SELECT event_type, count(*) AS n_rows,
                   count(*) FILTER (WHERE NOT (
                     json_valid(props)
                     AND json_type(props) = 'OBJECT'
                     AND json_keys(props) = ['k']
                     AND json_type(props, '$.k') IN ('UBIGINT','BIGINT','INTEGER')
                     AND try_cast(json_extract_string(props, '$.k') AS BIGINT)
                         BETWEEN 0 AND 50)) AS n_violations
            FROM events GROUP BY event_type
        """,
        "events_sessionize": """
            WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            sessions AS (
              SELECT user_id, ts,
                     sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM marked)
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   count(*) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end
            FROM sessions GROUP BY user_id, session_seq
        """,
        "asof_join": """
            WITH ev AS (
              SELECT * FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            clicks AS (
              SELECT ts, user_id, event_id FROM ev WHERE event_type = 'click'),
            views AS (
              SELECT ts, user_id, value AS view_value FROM ev
              WHERE event_type = 'view')
            SELECT c.event_id, c.user_id,
                   round(v.view_value, 2) AS prior_view_value
            FROM clicks c
            ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "range_join": """
            WITH bands AS (
              SELECT g * 50 AS lo, g * 50 + 75 AS hi,
                     'band' || CAST(g AS VARCHAR) AS band
              FROM UNNEST(generate_series(0, 11)) AS t(g))
            SELECT d.doc_id, b.band
            FROM documents d JOIN bands b
              ON b.lo <= d.n_chars AND d.n_chars < b.hi
            WHERE d.n_chars IS NOT NULL
        """,
        "pipeline_clean": """
            WITH q AS (
              SELECT doc_id, lang, text,
                round(
                  0.3 * least(length(text) / 500.0, 1.0)
                + 0.3 * (CASE WHEN length(text) > 0 THEN
                    length(regexp_replace(text, '[^\\p{L}]', '', 'g'))
                      / length(text) ELSE 0 END)
                + 0.2 * (1.0 - least(
                    (CASE WHEN length(text) > 0 THEN
                      length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))
                        / length(text) ELSE 0 END) * 4, 1.0))
                + 0.2 * (CASE WHEN trim(text) <> ''
                         AND len(string_split_regex(trim(text), '[\\s\\x0b]+')) > 0
                    THEN len(list_distinct(string_split_regex(trim(text), '[\\s\\x0b]+')))
                      / len(string_split_regex(trim(text), '[\\s\\x0b]+'))
                    ELSE 0 END), 6) AS quality
              FROM documents WHERE text IS NOT NULL),
            good AS (SELECT * FROM q WHERE quality >= 0.5),
            surv AS (
              SELECT * FROM (
                SELECT doc_id, lang,
                       min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
                FROM good)
              WHERE doc_id = keep_id),
            sampled AS (
              SELECT doc_id, lang,
                     CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 500000
                               WHEN 'fr' THEN 1000000 ELSE 250000 END AS keep_below,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#11'), 1, 15))::BIGINT
                       % 1000000 AS bucket
              FROM surv)
            SELECT doc_id, lang FROM sampled WHERE bucket < keep_below
        """,
        "events_window": """
            SELECT TIMESTAMP '1970-01-01'
                     + to_seconds(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT))
                     AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "repetition_profile": """
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '[\\s\\x0b]+') END AS t
              FROM documents),
            sig AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END AS n_grams,
                CASE WHEN len(t) >= 1
                     THEN round(1.0 - len(list_distinct(t)) / len(t), 9)
                     ELSE 0.0 END AS dup_unigram_frac,
                CASE WHEN len(t) >= 2
                     THEN round(1.0 - len(list_distinct(list_transform(
                            generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1]))) / (len(t) - 1), 9)
                     ELSE 0.0 END AS dup_bigram_frac,
                CASE WHEN len(t) >= 3
                     THEN round(1.0 - len(list_distinct(list_transform(
                            generate_series(1, len(t) - 2),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
                          / (len(t) - 2), 9)
                     ELSE 0.0 END AS dup_trigram_frac,
                CASE WHEN len(t) >= 5
                     THEN round(1.0 - len(list_distinct(list_transform(
                            generate_series(1, len(t) - 4),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 || ' ' || t[i+3] || ' ' || t[i+4])))
                          / (len(t) - 4), 9)
                     ELSE 0.0 END AS dup_5gram_frac
              FROM base),
            grams AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] AS g
              FROM base, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 2),
            per AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
            top AS (SELECT doc_id, max(c) AS top_c FROM per GROUP BY 1)
            SELECT s.doc_id, s.n_grams, s.dup_unigram_frac, s.dup_bigram_frac,
                   s.dup_trigram_frac, s.dup_5gram_frac,
                   CASE WHEN s.n_grams > 0
                        THEN round(coalesce(top_c, 0) / s.n_grams, 9)
                        ELSE 0.0 END AS top_ngram_frac
            FROM sig s LEFT JOIN top USING (doc_id)
        """,
        "dup_span_coverage": """
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '[\\s\\x0b]+') END AS t
              FROM documents),
            grams AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
              FROM base, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
              WHERE len(t) >= 3),
            gram_docs AS (
              SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g),
            cov AS (
              SELECT grams.doc_id, count(*) AS n_spans,
                     sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS dup_spans
              FROM grams JOIN gram_docs USING (g) GROUP BY grams.doc_id)
            SELECT d.doc_id,
                   coalesce(n_spans, 0) AS n_spans,
                   coalesce(dup_spans, 0) AS dup_spans,
                   CASE WHEN coalesce(n_spans, 0) > 0
                        THEN round(dup_spans / n_spans, 9)
                        ELSE 0.0 END AS dup_span_frac
            FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN cov USING (doc_id)
        """,
        "dup_span_removal": """
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '[\\s\\x0b]+') END AS t
              FROM documents),
            grams AS (
              SELECT doc_id, i, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
              FROM base, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
              WHERE len(t) >= 3),
            dup_grams AS (
              SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
                             FROM grams GROUP BY g) WHERE nd > 1),
            covered AS (
              SELECT DISTINCT grams.doc_id, i + k.k AS idx
              FROM grams JOIN dup_grams USING (g),
                   UNNEST(generate_series(0, 2)) AS k(k)),
            toks AS (
              SELECT doc_id, u.i AS idx, t[u.i] AS tok
              FROM base, UNNEST(generate_series(1, len(t))) AS u(i)),
            kept AS (
              SELECT t.doc_id, count(*) AS kept_n,
                     string_agg(t.tok, ' ' ORDER BY t.idx) AS kept_text
              FROM toks t LEFT JOIN covered c
                ON t.doc_id = c.doc_id AND t.idx = c.idx
              WHERE c.idx IS NULL
              GROUP BY t.doc_id)
            SELECT n.doc_id, n.n_tokens,
                   n.n_tokens - coalesce(k.kept_n, 0) AS removed_tokens,
                   coalesce(k.kept_text, '') AS kept_text
            FROM (SELECT doc_id, len(t) AS n_tokens FROM base) n
            LEFT JOIN kept k USING (doc_id)
        """,
        "line_dedup": """
            WITH lines AS (
              SELECT doc_id, u.i AS pos, ln[u.i] AS line
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ln
                    FROM documents WHERE text IS NOT NULL) t,
                   UNNEST(generate_series(1, len(ln))) AS u(i)),
            hot AS (
              SELECT trim(line) AS nl
              FROM lines WHERE trim(line) <> ''
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
            marked AS (
              SELECT l.doc_id, l.pos, l.line,
                     (h.nl IS NOT NULL) AS dropped
              FROM lines l LEFT JOIN hot h ON trim(l.line) = h.nl),
            agg AS (
              SELECT doc_id,
                     count(*) AS n_lines,
                     sum(CASE WHEN dropped THEN 1 ELSE 0 END)
                       AS removed_lines,
                     coalesce(string_agg(
                       CASE WHEN NOT dropped THEN line END,
                       chr(10) ORDER BY pos), '') AS ct
              FROM marked GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN a.doc_id IS NOT NULL THEN a.ct END
                     AS clean_text,
                   coalesce(n_lines, 0) AS n_lines,
                   coalesce(removed_lines, 0) AS removed_lines,
                   CASE WHEN coalesce(n_lines, 0) > 0
                        THEN round(removed_lines / n_lines, 9)
                        ELSE 0.0 END AS removed_frac
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN agg a USING (doc_id)
        """,
        # BM25: arithmetic parenthesization mirrors the Spark column
        # expression exactly (same fp op order), so the only cross-
        # engine divergence is ln() at <=1 ulp — invisible at round(4)
        "bm25_topk": """
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents WHERE text IS NOT NULL),
            corpus AS (
              SELECT count(*) AS n_corpus, avg(len(t)) AS avgdl FROM toks),
            matches AS (
              SELECT doc_id, len(t) AS dl, u.tok AS term
              FROM toks, UNNEST(t) AS u(tok)
              WHERE u.tok IN ('customer', 'spark', 'stream', 'vector')),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM matches GROUP BY 1, 2, 3),
            dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
            scored AS (
              SELECT tf.doc_id,
                     ((ln(1.0 + (c.n_corpus - d.df_t + 0.5)
                                / (d.df_t + 0.5)) * tf.tf) * 2.2)
                     / (tf.tf + 1.2 * (0.25 + (0.75 * tf.dl) / c.avgdl))
                       AS contrib
              FROM tf JOIN dft d USING (term) CROSS JOIN corpus c)
            SELECT doc_id, round(sum(contrib), 4) AS score,
                   count(*) AS n_matched_terms
            FROM scored GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 15
        """,
        "domain_cap": """
            SELECT doc_id, source, n_chars, rank_in_domain FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rank_in_domain
              FROM documents)
            WHERE rank_in_domain <= 3
        """,
        "dsir_weights": """
            WITH toks AS (
              SELECT doc_id, (lang = 'en') AS tgt,
                     CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents WHERE text IS NOT NULL),
            ex AS (
              SELECT doc_id, tgt,
                     ('0x' || substr(md5(u.tok || '#1'), 1, 15))::BIGINT
                       % 4096 AS feat
              FROM toks, UNNEST(t) AS u(tok)),
            vocab AS (
              SELECT feat, count(*) AS c_raw,
                     count(*) FILTER (WHERE tgt) AS c_tgt
              FROM ex GROUP BY feat),
            tot AS (
              SELECT sum(c_raw) AS r_total, sum(c_tgt) AS t_total,
                     count(*) AS v_size
              FROM vocab),
            ratio AS (
              SELECT feat,
                     ln((c_tgt + 1.0) / (t_total + (1.0 * v_size)))
                     - ln((c_raw + 1.0) / (r_total + (1.0 * v_size)))
                       AS logratio
              FROM vocab CROSS JOIN tot)
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(logratio), 6) AS weight
            FROM ex JOIN ratio USING (feat)
            GROUP BY doc_id
        """,
        "semdedup": _semdedup_sql(),
        # bigram LM: same md5-bucket construction as dsir_weights
        # (pair key seed #2, context key seed #3); alpha=1.0, V = exact
        # distinct reference unigrams
        "lm_perplexity": _LM_PPL_CTE + """
            SELECT t.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
                   p.perplexity
            FROM (SELECT DISTINCT doc_id FROM toks) t
            LEFT JOIN per p USING (doc_id)
        """,
        "perplexity_buckets": _LM_PPL_CTE + """,
            ppl AS (
              SELECT d.doc_id, d.lang, p.perplexity
              FROM documents d JOIN per p USING (doc_id)
              WHERE p.perplexity IS NOT NULL),
            hist AS (
              SELECT lang, round(perplexity, 2) AS pv, count(*) AS c
              FROM ppl GROUP BY 1, 2),
            cum AS (
              SELECT lang, pv,
                     sum(c) OVER (PARTITION BY lang ORDER BY pv) AS cumc,
                     sum(c) OVER (PARTITION BY lang) AS n
              FROM hist),
            cuts AS (
              SELECT lang,
                     min(CASE WHEN 3 * cumc >= n THEN pv END) AS cut1,
                     min(CASE WHEN 3 * cumc >= 2 * n THEN pv END) AS cut2
              FROM cum GROUP BY lang)
            SELECT p.doc_id, p.lang, p.perplexity,
                   CASE WHEN round(p.perplexity, 2) <= c.cut1 THEN 'head'
                        WHEN round(p.perplexity, 2) <= c.cut2 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM ppl p JOIN cuts c USING (lang)
        """,
        "quality_classifier": f"""
            WITH {_CLASSIFIER_SCORE_CTES}
            SELECT t.doc_id,
                   coalesce(p.n_grams, 0) AS n_grams,
                   round(p.raw, 6) AS score,
                   round(1 / (1 + exp(-12 * p.raw)), 6) AS quality_prob,
                   (round(p.raw, 6) > 0) AS keep
            FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) t
            LEFT JOIN per p USING (doc_id)
        """,
        "dedup_incremental": """
            WITH d AS (
              SELECT doc_id,
                     array_to_string(string_split_regex(
                       trim(text), '[\\s\\x0b]+')[1:4], ' ') AS dup_key,
                     CAST(doc_id % 3 AS INT) AS snap
              FROM documents WHERE text IS NOT NULL),
            g AS (
              SELECT dup_key, snap, count(*) AS n_rows
              FROM d GROUP BY 1, 2),
            w AS (
              SELECT snap, n_rows,
                     snap = min(snap) OVER (PARTITION BY dup_key)
                       AS is_first
              FROM g)
            SELECT snap,
                   CAST(sum(n_rows) AS BIGINT) AS n_rows,
                   CAST(count(*) FILTER (WHERE is_first) AS BIGINT)
                     AS n_new_unique,
                   CAST(coalesce(sum(n_rows - 1) FILTER (WHERE is_first),
                                 0) AS BIGINT) AS n_dup_within,
                   CAST(coalesce(sum(n_rows) FILTER (WHERE NOT is_first),
                                 0) AS BIGINT) AS n_dup_history
            FROM w GROUP BY snap
        """,
        "dedup_incremental_minhash": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(text), '[\\s\\x0b]+') AS t,
                     CAST(doc_id % 3 AS INT) AS snap
              FROM documents WHERE text IS NOT NULL),
            grams AS (
              SELECT DISTINCT doc_id, snap,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
              WHERE len(t) >= 3
              UNION
              SELECT DISTINCT doc_id, snap, array_to_string(t, ' ') AS gram
              FROM toks WHERE len(t) < 3),
            sig AS (
              SELECT doc_id, any_value(snap) AS snap,
                min(('0x' || substr(md5(gram || ':0'), 1, 15))::BIGINT) AS s0,
                min(('0x' || substr(md5(gram || ':1'), 1, 15))::BIGINT) AS s1,
                min(('0x' || substr(md5(gram || ':2'), 1, 15))::BIGINT) AS s2,
                min(('0x' || substr(md5(gram || ':3'), 1, 15))::BIGINT) AS s3,
                min(('0x' || substr(md5(gram || ':4'), 1, 15))::BIGINT) AS s4,
                min(('0x' || substr(md5(gram || ':5'), 1, 15))::BIGINT) AS s5,
                min(('0x' || substr(md5(gram || ':6'), 1, 15))::BIGINT) AS s6,
                min(('0x' || substr(md5(gram || ':7'), 1, 15))::BIGINT) AS s7
              FROM grams GROUP BY doc_id),
            bandv AS (
              SELECT doc_id, snap, b.band,
                     CASE b.band
                       WHEN 0 THEN s0 || ',' || s1
                       WHEN 1 THEN s2 || ',' || s3
                       WHEN 2 THEN s4 || ',' || s5
                       ELSE s6 || ',' || s7 END AS key
              FROM sig, (VALUES (0), (1), (2), (3)) b(band)),
            firsts AS (
              SELECT band, key, min(snap) AS first_snap
              FROM bandv GROUP BY band, key)
            SELECT v.snap, v.doc_id,
                   CAST(sum(CASE WHEN f.first_snap < v.snap
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_hist_bands,
                   sum(CASE WHEN f.first_snap < v.snap THEN 1 ELSE 0 END)
                     >= 1 AS is_hist_near_dup
            FROM bandv v
            JOIN firsts f ON v.band = f.band AND v.key = f.key
            GROUP BY v.snap, v.doc_id
        """,
        # training-order shard plan: identical md5 order key, hash-mod
        # shard, per-shard rank — byte-reproducible across engines
        "shard_plan": """
            WITH keyed AS (
              SELECT doc_id,
                     md5(CAST(doc_id AS VARCHAR) || '#42') AS okey
              FROM documents),
            sharded AS (
              SELECT doc_id, okey,
                     ('0x' || substr(okey, 1, 15))::BIGINT % 8 AS shard_id
              FROM keyed)
            SELECT doc_id, shard_id,
                   CAST(row_number() OVER (
                        PARTITION BY shard_id
                        ORDER BY okey, CAST(doc_id AS VARCHAR))
                        AS BIGINT) AS pos
            FROM sharded
        """,
        "temperature_mix": """
            WITH mass AS (
              SELECT source, CAST(sum(n_chars) AS DOUBLE) AS mass
              FROM documents GROUP BY source),
            t AS (
              SELECT source, mass,
                     mass / sum(mass) OVER () AS nshare,
                     pow(mass / sum(mass) OVER (), 0.7) AS tpow
              FROM mass),
            u AS (
              SELECT source, mass, nshare,
                     tpow / sum(tpow) OVER () AS tshare
              FROM t)
            SELECT source, mass,
                   round(nshare, 6) AS natural_share,
                   round(tshare, 6) AS target_share,
                   round((tshare / nshare)
                         / max(tshare / nshare) OVER (), 6) AS keep_rate
            FROM u
        """,
        "corpus_datacard": _corpus_datacard_sql(),
        "bpe_train": _bpe_train_sql(BPE_N_MERGES),
        "bpe_token_counts": _bpe_token_counts_sql(BPE_FROZEN_MERGES),
        "tokenizer_fertility": _tokenizer_fertility_sql(BPE_FROZEN_MERGES),
        "budget_threshold": f"""
            WITH scored AS (
              SELECT round({_QUALITY_SQL}, 3) AS s,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text),
                                                      '[\\s\\x0b]+')) END
                       AS tok
              FROM documents WHERE text IS NOT NULL),
            hist AS (
              SELECT s, sum(tok) AS btok, count(*) AS bdocs
              FROM scored GROUP BY 1),
            cum AS (
              SELECT s,
                     sum(btok) OVER (ORDER BY s DESC) AS cum_tok,
                     sum(bdocs) OVER (ORDER BY s DESC) AS cum_docs
              FROM hist),
            sel AS (SELECT * FROM cum WHERE cum_tok <= 10000)
            SELECT CAST(10000 AS BIGINT) AS budget_tokens,
                   min(s) AS threshold_score,
                   CAST(coalesce(max(cum_docs), 0) AS BIGINT)
                     AS kept_docs,
                   CAST(coalesce(max(cum_tok), 0) AS BIGINT)
                     AS kept_tokens,
                   round(coalesce(max(cum_tok), 0) / 10000.0, 6)
                     AS utilization
            FROM sel
        """,
        "embedding_outliers": """
            WITH norms AS (
              SELECT vec_id,
                     round(sqrt(list_sum(list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * x))), 6) AS norm
              FROM embeddings WHERE embedding IS NOT NULL),
            med AS (SELECT round(median(norm), 6) AS med FROM norms),
            mad AS (
              SELECT round(median(abs(n.norm - m.med)), 6) AS mad
              FROM norms n CROSS JOIN med m)
            SELECT n.vec_id, n.norm,
                   m.med AS med_norm, d.mad AS mad_norm,
                   CASE WHEN d.mad > 0
                        THEN round((0.6745 * (n.norm - m.med)) / d.mad, 6)
                        ELSE 0.0 END AS z,
                   CASE WHEN d.mad > 0
                        THEN abs(CASE WHEN d.mad > 0
                                 THEN round((0.6745 * (n.norm - m.med))
                                            / d.mad, 6)
                                 ELSE 0.0 END) > 3.5
                        ELSE FALSE END AS is_outlier
            FROM norms n CROSS JOIN med m CROSS JOIN mad d
        """,
        "fuzzy_contamination": _fuzzy_contamination_sql(),
        "crawl_frontier": _crawl_frontier_sql(),
        "calibration_sweep": _calibration_sweep_sql(CALIBRATION_GRID),
        "minhash_fidelity": _minhash_fidelity_sql(8, 4),
        "heaps_profile": _heaps_profile_sql(16),
        "zipf_profile": _zipf_profile_sql(100),
        "winnow_fingerprint": _winnow_fingerprint_sql(5, 4),
        "postings_index": _postings_index_sql(),
        "nfc_audit": _nfc_audit_sql(),
        "winnow_near_dup": _winnow_near_dup_sql(5, 4),
        "readability": _readability_sql(),
        "leakage_safe_split": _leakage_safe_split_sql(),
        "retrieval_eval": _retrieval_eval_sql(),
        "lang_confusion": _lang_confusion_sql(),
        "weighted_sample": """
            WITH keyed AS (
              SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
                     pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                              || '#13'), 1, 15))::BIGINT + 1)
                         / 1152921504606846976.0,
                         1.0 / CAST(n_chars AS DOUBLE)) AS key
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0),
            top AS (
              SELECT * FROM keyed ORDER BY key DESC, doc_id LIMIT 100)
            SELECT doc_id, weight, round(key, 6) AS sample_key,
                   CAST(row_number() OVER (ORDER BY key DESC, doc_id)
                        AS INT) AS "rank"
            FROM top
        """,
        # independent derivation: residue lattice, never the pages
        "cocitation": """
            WITH e AS (
              SELECT DISTINCT
                     'example' || CAST(doc_id % 7 AS VARCHAR)
                       || '.com' AS src_d,
                     'example' || CAST((doc_id + j) % 7 AS VARCHAR)
                       || '.com' AS dst_d
              FROM documents,
                   unnest(range(1, CAST(doc_id % 3 AS BIGINT) + 2)) AS t(j)
              WHERE text IS NOT NULL)
            SELECT a.dst_d AS dst_a, b.dst_d AS dst_b,
                   count(*) AS n_common_sources
            FROM e a JOIN e b USING (src_d)
            WHERE a.dst_d < b.dst_d
            GROUP BY 1, 2
        """,
        # independent derivation: residue lattice, never the pages
        "anchor_text": """
            WITH links AS (
              SELECT 'example' || CAST((doc_id + j) % 7 AS VARCHAR)
                       || '.com' AS dst_d,
                     doc_id, j
              FROM documents,
                   unnest(range(1, CAST(doc_id % 3 AS BIGINT) + 2)) AS t(j)
              WHERE text IS NOT NULL),
            terms AS (
              SELECT dst_d,
                     'w' || CAST((doc_id + j) % 11 AS VARCHAR) AS term
              FROM links
              UNION ALL
              SELECT dst_d,
                     'v' || CAST((doc_id + 3 * j) % 5 AS VARCHAR) AS term
              FROM links),
            agg AS (SELECT dst_d, term, count(*) AS n_refs
                    FROM terms GROUP BY 1, 2),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY dst_d
                      ORDER BY n_refs DESC, term) AS rnk
                  FROM agg)
            SELECT dst_d, term, n_refs, rnk AS "rank"
            FROM r WHERE rnk <= 5
        """,
        "token_entropy": """
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents WHERE text IS NOT NULL),
            ex AS (
              SELECT doc_id, len(t) AS dl, u.tok AS tok
              FROM toks, UNNEST(t) AS u(tok)),
            counts AS (
              SELECT doc_id, dl, tok, count(*) AS c
              FROM ex GROUP BY 1, 2, 3),
            agg AS (
              SELECT doc_id, dl, count(*) AS n_types,
                     round(sum((c / dl) * log2(dl / c)), 6) AS entropy
              FROM counts GROUP BY 1, 2)
            SELECT doc_id, dl AS n_tokens, n_types,
                   round(n_types / dl, 6) AS ttr,
                   entropy,
                   CASE WHEN dl > 1
                        THEN round(entropy / log2(dl), 6)
                        ELSE 0.0 END AS norm_entropy
            FROM agg
        """,
        "pmi_collocations": """
            WITH toks AS (
              SELECT CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents WHERE text IS NOT NULL),
            scal AS (
              SELECT sum(len(t)) AS n_corpus,
                     sum(greatest(len(t) - 1, 0)) AS b_corpus
              FROM toks),
            uni AS (
              SELECT u.tok AS tok, count(*) AS n_tok
              FROM toks, UNNEST(t) AS u(tok) GROUP BY 1),
            pairs AS (
              SELECT t[i.g] AS w1, t[i.g + 1] AS w2
              FROM toks,
                   UNNEST(generate_series(1, len(t) - 1)) AS i(g)
              WHERE len(t) >= 2),
            big AS (
              SELECT w1, w2, count(*) AS n_pair
              FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5),
            scored AS (
              SELECT b.w1, b.w2, b.n_pair,
                     u1.n_tok AS n_w1, u2.n_tok AS n_w2,
                     round(log2((b.n_pair / s.b_corpus)
                                / ((u1.n_tok / s.n_corpus)
                                   * (u2.n_tok / s.n_corpus))), 6) AS pmi
              FROM big b
              JOIN uni u1 ON u1.tok = b.w1
              JOIN uni u2 ON u2.tok = b.w2
              CROSS JOIN scal s),
            top AS (
              SELECT * FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 50)
            SELECT w1, w2, n_pair, n_w1, n_w2, pmi,
                   CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2)
                        AS INT) AS "rank"
            FROM top
        """,
        # independent derivation: the (site, slug) residue lattice,
        # never the synthesized URLs
        "bitext_candidates": """
            WITH k AS (
              SELECT doc_id, lang,
                     'https://site' || CAST(doc_id % 3 AS VARCHAR)
                       || '.com/_/art/' || CAST(doc_id % 17 AS VARCHAR)
                       AS pair_key
              FROM documents),
            reps AS (
              SELECT pair_key, lang, min(doc_id) AS rep_id
              FROM k GROUP BY 1, 2)
            SELECT a.pair_key,
                   a.lang AS lang_a, a.rep_id AS doc_a,
                   b.lang AS lang_b, b.rep_id AS doc_b
            FROM reps a JOIN reps b USING (pair_key)
            WHERE a.lang < b.lang
        """,
        "stupid_backoff": """
            WITH toks AS (
              SELECT doc_id, (lang = 'en') AS ref,
                     CASE WHEN trim(lower(text)) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(lower(text)),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents WHERE text IS NOT NULL),
            tri AS (
              SELECT doc_id, ref,
                     ('0x' || substr(md5(t[i.g-2] || chr(31) || t[i.g-1]
                        || chr(31) || t[i.g] || '#5'), 1, 15))::BIGINT
                       % 4096 AS tri_key,
                     ('0x' || substr(md5(t[i.g-2] || chr(31) || t[i.g-1]
                        || '#6'), 1, 15))::BIGINT % 4096 AS ctx2_key,
                     ('0x' || substr(md5(t[i.g-1] || chr(31) || t[i.g]
                        || '#6'), 1, 15))::BIGINT % 4096 AS bi_key,
                     ('0x' || substr(md5(t[i.g-1] || '#7'), 1, 15))::BIGINT
                       % 4096 AS w2_key,
                     ('0x' || substr(md5(t[i.g] || '#7'), 1, 15))::BIGINT
                       % 4096 AS w3_key
              FROM toks, UNNEST(generate_series(3, len(t))) AS i(g)),
            ref_bi AS (
              SELECT ('0x' || substr(md5(t[i.g-1] || chr(31) || t[i.g]
                        || '#6'), 1, 15))::BIGINT % 4096 AS bi_key
              FROM toks, UNNEST(generate_series(2, len(t))) AS i(g)
              WHERE ref),
            ref_uni AS (
              SELECT u.tok AS tok,
                     ('0x' || substr(md5(u.tok || '#7'), 1, 15))::BIGINT
                       % 4096 AS uni_key
              FROM toks, UNNEST(t) AS u(tok) WHERE ref),
            c3 AS (SELECT tri_key, count(*) AS c3
                   FROM tri WHERE ref GROUP BY 1),
            c2 AS (SELECT bi_key, count(*) AS c2
                   FROM ref_bi GROUP BY 1),
            c1 AS (SELECT uni_key, count(*) AS c1
                   FROM ref_uni GROUP BY 1),
            scal AS (SELECT count(*) AS n_ref,
                            count(DISTINCT tok) AS v_size
                     FROM ref_uni),
            logs AS (
              SELECT tri.doc_id,
                     CASE WHEN c3.c3 IS NOT NULL
                          THEN ln(c3.c3 / cx.c_ctx2)
                          WHEN cb.c2 IS NOT NULL
                          THEN ln((0.4 * cb.c2) / u2.c_w2)
                          ELSE ln(((0.4 * 0.4)
                                   * (coalesce(u3.c_w3, 0) + 1))
                                  / (s.n_ref + s.v_size))
                     END AS l
              FROM tri
              LEFT JOIN c3 USING (tri_key)
              LEFT JOIN (SELECT bi_key AS ctx2_key, c2 AS c_ctx2
                         FROM c2) cx USING (ctx2_key)
              LEFT JOIN c2 cb USING (bi_key)
              LEFT JOIN (SELECT uni_key AS w2_key, c1 AS c_w2
                         FROM c1) u2 USING (w2_key)
              LEFT JOIN (SELECT uni_key AS w3_key, c1 AS c_w3
                         FROM c1) u3 USING (w3_key)
              CROSS JOIN scal s),
            per AS (
              SELECT doc_id, count(*) AS n_trigrams,
                     round(exp(-avg(l)), 6) AS sb_score
              FROM logs GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(p.n_trigrams, 0) AS n_trigrams,
                   p.sb_score
            FROM (SELECT doc_id FROM toks) d
            LEFT JOIN per p USING (doc_id)
        """,
        "mixture_execute": """
            WITH mass AS (
              SELECT source, CAST(sum(n_chars) AS DOUBLE) AS mass
              FROM documents GROUP BY source),
            t AS (
              SELECT source, mass,
                     mass / sum(mass) OVER () AS nshare,
                     pow(mass / sum(mass) OVER (), 0.7) AS tpow
              FROM mass),
            u AS (
              SELECT source, mass, nshare,
                     tpow / sum(tpow) OVER () AS tshare
              FROM t),
            rates AS (
              SELECT source,
                     round(tshare, 6) AS target_share,
                     CAST(round(round((tshare / nshare)
                           / max(tshare / nshare) OVER (), 6) * 1000000)
                          AS BIGINT) AS thresh
              FROM u),
            kept AS (
              SELECT d.source, d.n_chars
              FROM documents d JOIN rates r ON d.source = r.source
              WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                        || '#13'), 1, 15))::BIGINT
                    % 1000000 < r.thresh),
            rep AS (
              SELECT source, count(*) AS n_kept,
                     sum(n_chars) AS chars_kept
              FROM kept GROUP BY source)
            SELECT rep.source, n_kept, chars_kept,
                   round(chars_kept
                         / sum(chars_kept) OVER (), 6) AS achieved_share,
                   r.target_share
            FROM rep JOIN rates r ON rep.source = r.source
        """,
        # C4: identical line derivation (5-word sentences + seeded
        # markers) then the same rounded rule battery
        "c4_rules": """
            WITH derived AS (
              SELECT doc_id,
                     regexp_replace(text, '((?:\\S+ ){4}\\S+) ',
                                    '\\1.' || chr(10), 'g')
                     || CASE WHEN doc_id % 17 = 0
                             THEN chr(10) || 'lorem ipsum dolor'
                             ELSE '' END
                     || CASE WHEN doc_id % 23 = 0
                             THEN chr(10)
                               || 'enable javascript and accept { cookies }'
                             ELSE '' END AS text
              FROM documents WHERE text IS NOT NULL),
            base AS (
              SELECT doc_id, string_split(text, chr(10)) AS lines,
                     lower(text) AS lo
              FROM derived),
            sig AS (
              SELECT doc_id,
                     len(lines) AS n_lines,
                     len(list_filter(lines,
                       l -> regexp_matches(rtrim(l), '[.!?\"]$')
                        AND len(string_split_regex(trim(l),
                                                   '[\\s\\x0b]+')) >= 5))
                       AS n_kept_lines,
                     position('{' IN lo) > 0 AS has_brace,
                     position('lorem ipsum' IN lo) > 0 AS has_lorem,
                     len(list_filter(lines,
                       l -> regexp_matches(lower(l), '\\bjavascript\\b')))
                       > 0 AS has_javascript_line
              FROM base)
            SELECT doc_id, n_lines, n_kept_lines,
                   round(n_kept_lines * 1.0 / n_lines, 6) AS kept_frac,
                   has_brace, has_lorem, has_javascript_line,
                   coalesce(n_kept_lines >= 3 AND NOT has_brace
                     AND NOT has_lorem AND NOT has_javascript_line,
                     FALSE) AS passes_c4
            FROM sig
        """,
        # Gopher rule battery: every ratio rounded to 6dp BEFORE the
        # threshold compare on both engines, so the verdict column is
        # reproducible; list_intersect dedups exactly like Spark's
        # array_intersect (n_stopwords = DISTINCT stopword hits)
        "gopher_rules": """
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text),
                                                  '[\\s\\x0b]+') END AS t,
                     string_split(text, chr(10)) AS lines,
                     text
              FROM documents WHERE text IS NOT NULL),
            sig AS (
              SELECT doc_id,
                     len(t) AS word_count,
                     CASE WHEN len(t) = 0 THEN NULL ELSE round(
                       list_sum(list_transform(t, x -> length(x))) * 1.0
                       / len(t), 6) END AS mean_word_len,
                     CASE WHEN len(t) = 0 THEN NULL ELSE round(
                       (len(regexp_extract_all(text, '#'))
                        + len(regexp_extract_all(text, '\\.\\.\\.'))) * 1.0
                       / len(t), 6) END AS symbol_word_ratio,
                     round(len(list_filter(lines,
                         l -> regexp_matches(ltrim(l), '^[-*•]'))) * 1.0
                       / len(lines), 6) AS bullet_line_frac,
                     round(len(list_filter(lines,
                         l -> regexp_matches(rtrim(l), '\\.\\.\\.$'))) * 1.0
                       / len(lines), 6) AS ellipsis_line_frac,
                     CASE WHEN len(t) = 0 THEN NULL ELSE round(
                       len(list_filter(t,
                           x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
                       / len(t), 6) END AS alpha_word_frac,
                     len(list_intersect(
                       list_transform(t, x -> lower(x)),
                       ['the','be','to','of','and','that','have','with']))
                       AS n_stopwords
              FROM base)
            SELECT *,
                   coalesce(word_count >= 50 AND word_count <= 100000
                     AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                     AND symbol_word_ratio <= 0.1
                     AND bullet_line_frac < 0.9
                     AND ellipsis_line_frac < 0.3
                     AND alpha_word_frac >= 0.8
                     AND n_stopwords >= 1, FALSE) AS passes_gopher
            FROM sig
        """,
        "pii_scan": _pii_scan_sql(),
        "html_extract": _html_extract_sql(),
        "html_metadata": _html_metadata_sql(),
        "link_graph": """
            -- independent edge derivation: the id residue lattice, not
            -- the page pipeline (q_link_graph builds pages and extracts)
            WITH links AS (
              SELECT 'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS src_d,
                     'example' || CAST((doc_id + j) % 7 AS VARCHAR) || '.com' AS dst_d
              FROM documents, unnest(range(1, CAST(doc_id % 3 AS BIGINT) + 2)) AS t(j)
              WHERE text IS NOT NULL),
            e AS (SELECT src_d, dst_d, count(*) AS n FROM links GROUP BY 1, 2),
            o AS (SELECT src_d AS domain, CAST(sum(n) AS BIGINT) AS out_links,
                         count(*) AS out_domains FROM e GROUP BY 1),
            i AS (SELECT dst_d AS domain, CAST(sum(n) AS BIGINT) AS in_links,
                         count(*) AS in_domains FROM e GROUP BY 1)
            SELECT coalesce(o.domain, i.domain) AS domain,
                   coalesce(out_links, 0) AS out_links,
                   coalesce(out_domains, 0) AS out_domains,
                   coalesce(in_links, 0) AS in_links,
                   coalesce(in_domains, 0) AS in_domains
            FROM o FULL OUTER JOIN i ON o.domain = i.domain
            ORDER BY 1
        """,
        "pagerank_hosts": _pagerank_sql(damping=0.85, iters=10),
        "domain_reputation": _domain_reputation_sql(damping=0.85, iters=10),
        "url_domain_filter": _url_domain_filter_sql(),
        "encoding_artifacts": _encoding_artifacts_sql(),
        "pipeline_web_curation": _pipeline_web_curation_sql(),
        "warc_ingest": _warc_ingest_sql(),
        "script_mix": _script_mix_sql(),
        "doc_chunking": """
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text),
                                                  '[\\s\\x0b]+') END AS t
              FROM documents),
            starts AS (
              SELECT doc_id, t, u.s AS start_tok
              FROM toks,
                   UNNEST(generate_series(
                     1, greatest(len(t) - 16, 1), 48)) AS u(s)
              WHERE len(t) > 0)
            SELECT doc_id,
                   CAST(row_number() OVER (PARTITION BY doc_id
                                           ORDER BY start_tok) - 1
                        AS INT) AS chunk_seq,
                   start_tok,
                   len(t[start_tok:start_tok + 63]) AS n_tokens,
                   md5(array_to_string(t[start_tok:start_tok + 63], ' '))
                     AS chunk_md5
            FROM starts
        """,
        "robots_filter": """
            -- independent verdict derivation from the residue lattice:
            -- the oracle never parses robots.txt (q_robots_filter does)
            WITH base AS (
              SELECT doc_id, doc_id % 11 AS h, doc_id % 5 AS r
              FROM documents)
            SELECT doc_id,
                   'src' || CAST(h AS VARCHAR) || '.com' AS host,
                   CASE r
                     WHEN 0 THEN '/private' || CAST(h AS VARCHAR)
                                 || '/x/' || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN '/private' || CAST(h AS VARCHAR)
                                 || '/public/' || CAST(doc_id AS VARCHAR)
                     WHEN 2 THEN '/tmp/keep/' || CAST(doc_id AS VARCHAR)
                     WHEN 3 THEN '/tmp' || CAST(doc_id AS VARCHAR)
                     ELSE '/ok/' || CAST(doc_id AS VARCHAR) END AS path,
                   CAST(CASE r
                     WHEN 0 THEN 9 + length(CAST(h AS VARCHAR))
                     WHEN 1 THEN 16 + length(CAST(h AS VARCHAR))
                     WHEN 2 THEN CASE WHEN h % 2 = 0 THEN 9 ELSE 4 END
                     WHEN 3 THEN 4
                     ELSE 0 END AS BIGINT) AS matched_len,
                   CASE r
                     WHEN 0 THEN false
                     WHEN 1 THEN true
                     WHEN 2 THEN h % 2 = 0
                     WHEN 3 THEN false
                     ELSE true END AS allowed
            FROM base
        """,
        "snapshot_diff": """
            WITH old AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
            new AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 AND text IS NOT NULL
                          THEN text || ' v2' ELSE text END AS text
              FROM documents WHERE doc_id % 9 <> 0),
            j AS (
              SELECT coalesce(old.doc_id, new.doc_id) AS key,
                     old.doc_id IS NOT NULL AS old_present,
                     new.doc_id IS NOT NULL AS new_present,
                     md5(old.text) AS old_h, md5(new.text) AS new_h,
                     CASE WHEN old.doc_id IS NOT NULL
                          THEN coalesce(length(old.text), 0) END AS oc,
                     CASE WHEN new.doc_id IS NOT NULL
                          THEN coalesce(length(new.text), 0) END AS nc,
                     old.text IS NULL AS o_null, new.text IS NULL AS n_null
              FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
            SELECT CASE WHEN NOT old_present THEN 'added'
                        WHEN NOT new_present THEN 'removed'
                        WHEN (o_null AND n_null)
                             OR old_h = new_h THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   count(*) AS n,
                   sum(coalesce(nc, 0) - coalesce(oc, 0)) AS chars_delta
            FROM j GROUP BY 1
        """,
        "contamination_check": """
            WITH toks AS (
              SELECT doc_id, source,
                     CASE WHEN text IS NULL OR trim(text) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '[\\s\\x0b]+') END AS t
              FROM documents),
            tr AS (
              SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
              WHERE len(t) >= 3
                AND (source IS NULL OR source <> 'src0')),
            ev AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
              WHERE len(t) >= 3 AND source = 'src0'),
            ov AS (
              SELECT ev.doc_id, count(*) AS n_spans,
                     sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
                       AS hit_spans
              FROM ev LEFT JOIN tr ON ev.g = tr.g GROUP BY ev.doc_id)
            SELECT d.doc_id,
                   coalesce(n_spans, 0) AS n_spans,
                   coalesce(hit_spans, 0) AS hit_spans,
                   CASE WHEN coalesce(n_spans, 0) > 0
                        THEN round(hit_spans / n_spans, 9)
                        ELSE 0.0 END AS contamination_frac
            FROM (SELECT DISTINCT doc_id FROM documents
                  WHERE source = 'src0') d
            LEFT JOIN ov USING (doc_id)
        """,
        "sequence_packing": """
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '[\\s\\x0b]+'))
                          END AS n_tokens,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#0'),
                                     1, 15))::BIGINT % 8 AS shard
              FROM documents),
            packed AS (
              SELECT shard, least(n_tokens, 256) AS packed_tokens,
                     sum(least(n_tokens, 256)) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS rsum
              FROM base),
            asg AS (
              SELECT shard, packed_tokens,
                     CAST(floor((rsum - packed_tokens) / 256.0) AS BIGINT)
                       AS pack_id
              FROM packed)
            SELECT shard, pack_id, count(*) AS n_docs,
                   sum(packed_tokens) AS pack_tokens,
                   round(sum(packed_tokens) / 256.0, 9) AS fill_ratio
            FROM asg GROUP BY shard, pack_id
        """,
    }
