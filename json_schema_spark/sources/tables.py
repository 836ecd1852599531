"""Table loaders + deterministic synthetic Common-Crawl-style webpages.

``load_tables`` reads the driver-provided TPC-H-ish parquet tables
(TESTDATA.md). ``synth_webpages`` generates the FIXTURES.md §1
`documents` web-page table — (url, warc_ts, html, text, lang) — fully
JVM-side from ``spark.range`` + hash-based pseudo-randomness, so it is:

* deterministic (same seed -> byte-identical output, any parallelism);
* generated distributed (no driver-side materialization — works at any
  row count a cluster can hold);
* planted with violations at fixed id-residue classes so golden tests
  can assert exact counts: duplicate urls, malformed urls, NULL/empty
  text, enum-violating langs, NULL timestamps, near-duplicate texts,
  and a distribution-shifted day (drift positive).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from json_schema_spark.session import local_frame

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# planted-defect residue classes (documented knobs for golden tests)
DUP_URL_MOD = 200        # id % 200 == 0 -> url copied from id-1
BAD_URL_MOD = 487        # malformed url (pattern+format violation)
NULL_TS_MOD = 991        # NULL warc_ts
EMPTY_TEXT_MOD = 101     # '' text (minLength violation)
NULL_TEXT_MOD = 211      # NULL text (required violation)
DUP_TEXT_MOD = 149       # exact duplicate text of id-1
NEAR_DUP_TEXT_MOD = 157  # near-duplicate text of id-1 (one word appended)
BAD_LANG_THRESH = 997    # hash residue >= this (of 1000) -> lang 'xx'
N_DAYS = 8               # warc_ts spread (8 daily partitions)
DRIFT_DAY = 7            # this day's lang distribution is shifted

ALLOWED_LANGS = ["en", "de", "fr", "es", "zh", "ru", "pt", "it"]

_WORDS = [
    "data", "table", "query", "row", "column", "page", "web", "crawl",
    "index", "search", "link", "text", "html", "title", "body", "head",
    "news", "blog", "shop", "spark", "schema", "valid", "check", "drift",
    "token", "batch", "shard", "merge", "scan", "filter", "group", "join",
    "café", "naïve", "日本語", "データ", "schön", "élan", "niño", "срок",
    "fast", "slow", "big", "small", "hot", "cold", "key", "value",
    "store", "cache", "disk", "net", "code", "byte", "word", "line",
    "open", "close", "read", "write", "send", "recv", "sync", "async",
]


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TPCH_TABLES) -> dict[str, DataFrame]:
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _h(seed: int, *cols: Column | int | str) -> Column:
    """Deterministic 64-bit hash stream; nonneg."""
    args = [F.lit(c) if not isinstance(c, Column) else c for c in cols]
    return F.abs(F.xxhash64(F.lit(seed), *args))


def _domain_expr(i: Column, seed: int) -> Column:
    """Skewed domain: top-3 domains hold ~40% of rows (FIXTURES.md §1)."""
    r = F.pmod(_h(seed + 1, i), F.lit(100))
    return (
        F.when(r < 18, F.lit("news.example.com"))
        .when(r < 31, F.lit("blog.example.org"))
        .when(r < 40, F.lit("shop.example.net"))
        .otherwise(
            F.concat(F.lit("site-"), F.pmod(_h(seed + 2, i), F.lit(5000)).cast("string"),
                     F.lit(".example.com"))
        )
    )


def _url_expr(i: Column, seed: int) -> Column:
    """url as a pure function of id — lets duplicate planting reuse
    url(id-1) without a self-join."""
    good = F.concat(
        F.lit("https://"), _domain_expr(i, seed), F.lit("/p/"),
        F.conv(F.pmod(_h(seed + 3, i), F.lit(2**40)).cast("string"), 10, 16),
        F.lit("-"), i.cast("string"),
    )
    return F.when(
        (F.pmod(i, F.lit(BAD_URL_MOD)) == 0) & (i > 0), F.lit("not a url %%")
    ).otherwise(good)


def _text_expr(i: Column, seed: int) -> Column:
    """Deterministic multibyte-bearing text as a pure function of id.

    Word count 20..199; words drawn from a fixed vocab by hash — all
    built-ins (sequence/transform/array_join), so generation runs under
    whole-stage codegen.
    """
    nwords = (F.pmod(_h(seed + 4, i), F.lit(180)) + F.lit(20)).cast("int")
    vocab = F.array(*[F.lit(w) for w in _WORDS])
    words = F.transform(
        F.sequence(F.lit(1), nwords),
        lambda j: F.element_at(vocab, (F.pmod(_h(seed + 5, i, j), F.lit(len(_WORDS))) + 1).cast("int")),
    )
    return F.array_join(words, " ")


def _lang_expr(i: Column, day: Column, seed: int) -> Column:
    """Zipf-ish langs, hot key 'en' ~60%; ~0.3% planted out-of-enum
    values; DRIFT_DAY gets a shifted distribution (drift positive)."""
    r = F.pmod(_h(seed + 6, i), F.lit(1000))
    normal = (
        F.when(r < 600, "en").when(r < 750, "de").when(r < 830, "fr")
        .when(r < 890, "es").when(r < 940, "zh").when(r < 975, "ru")
        .when(r < 990, "pt").when(r < BAD_LANG_THRESH, "it")
        .otherwise("xx")
    )
    shifted = (  # drift day: de-heavy, en-light
        F.when(r < 250, "en").when(r < 700, "de").when(r < 830, "fr")
        .when(r < 890, "es").when(r < 940, "zh").when(r < 975, "ru")
        .when(r < 990, "pt").when(r < BAD_LANG_THRESH, "it")
        .otherwise("xx")
    )
    return F.when(day == DRIFT_DAY, shifted).otherwise(normal)


def synth_webpages(
    spark: SparkSession, n_rows: int, seed: int = 42, partitions: int | None = None,
) -> DataFrame:
    """Deterministic `documents` webpage table (FIXTURES.md §1).

    Columns: url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
    lang STRING, warc_day DATE (the partition axis, days(warc_ts)).
    """
    base = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")

    day = F.pmod(_h(seed + 7, i), F.lit(N_DAYS))
    warc_ts = F.when(
        (F.pmod(i, F.lit(NULL_TS_MOD)) == 0) & (i > 0), F.lit(None).cast("timestamp")
    ).otherwise(
        F.to_timestamp(F.lit("2024-03-01 00:00:00"))
        + F.make_dt_interval(day, F.lit(0), F.lit(0), F.pmod(_h(seed + 8, i), F.lit(86400)).cast("int"))
    )

    url = F.when((F.pmod(i, F.lit(DUP_URL_MOD)) == 0) & (i > 0), _url_expr(i - 1, seed)) \
        .otherwise(_url_expr(i, seed))

    text = (
        F.when((F.pmod(i, F.lit(NULL_TEXT_MOD)) == 0) & (i > 0), F.lit(None).cast("string"))
        .when((F.pmod(i, F.lit(EMPTY_TEXT_MOD)) == 0) & (i > 0), F.lit(""))
        .when((F.pmod(i, F.lit(DUP_TEXT_MOD)) == 0) & (i > 0), _text_expr(i - 1, seed))
        .when(
            (F.pmod(i, F.lit(NEAR_DUP_TEXT_MOD)) == 0) & (i > 0),
            F.concat(_text_expr(i - 1, seed), F.lit(" extra")),
        )
        .otherwise(_text_expr(i, seed))
    )

    html = F.to_binary(
        F.repeat(F.md5(F.concat(F.lit("html"), i.cast("string"))),
                 (F.pmod(_h(seed + 9, i), F.lit(4)) + 1).cast("int")),
        F.lit("hex"),
    )

    return base.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        _lang_expr(i, day, seed).alias("lang"),
        F.to_date(
            F.to_timestamp(F.lit("2024-03-01 00:00:00")) + F.make_dt_interval(day)
        ).alias("warc_day"),
    )


def synth_skewed_webpages(
    spark: SparkSession, n_rows: int, seed: int = 42,
    partitions: int | None = None,
    hot_url_pct: int = 5, hot_domain_pct: int = 40, boiler_pct: int = 25,
) -> DataFrame:
    """Deliberately SKEWED web-page corpus for the scale/straggler
    soak (VERDICT r2 item 1) — same deterministic JVM-side generation
    discipline as :func:`synth_webpages`, with the pathologies a real
    crawl shows and a uniform corpus can't exercise:

    * one hot URL holding ``hot_url_pct``% of ALL rows (the salted
      uniqueness check's worst case: a single groupBy key with
      hundreds of thousands of rows);
    * one hot domain at ``hot_domain_pct``% mass and lang 'en' at 50%
      (hot shuffle/join keys);
    * ``boiler_pct``% boilerplate near-dup text: a shared template
      plus one unique trailing token per doc — pairwise Jaccard ~0.9
      across MILLIONS of docs, the LSH band-bucket quadratic blowout
      that minhash_candidates(max_bucket=...) exists to cap.
    """
    base = spark.range(0, n_rows, 1,
                       partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    day = F.pmod(_h(seed + 17, i), F.lit(N_DAYS))

    r100 = F.pmod(_h(seed + 11, i), F.lit(100))
    domain = (
        F.when(r100 < hot_domain_pct, F.lit("hot.example.com"))
        .otherwise(F.concat(
            F.lit("site-"),
            F.pmod(_h(seed + 12, i), F.lit(5000)).cast("string"),
            F.lit(".example.org")))
    )
    url = (
        F.when(F.pmod(_h(seed + 13, i), F.lit(100)) < hot_url_pct,
               F.lit("https://hot.example.com/landing"))
        .otherwise(F.concat(F.lit("https://"), domain, F.lit("/p/"),
                            i.cast("string")))
    )
    lang = (
        F.when(F.pmod(_h(seed + 14, i), F.lit(100)) < 50, F.lit("en"))
        .otherwise(F.element_at(
            F.array(*[F.lit(c) for c in ALLOWED_LANGS[1:]]),
            (F.pmod(_h(seed + 15, i), F.lit(len(ALLOWED_LANGS) - 1)) + 1)
            .cast("int")))
    )
    boiler = F.concat(
        F.lit("we use cookies to improve your experience accept all "
              "cookies to continue to the site or manage preferences "
              "in settings ref "),
        i.cast("string"),
    )
    text = F.when(F.pmod(_h(seed + 16, i), F.lit(100)) < boiler_pct,
                  boiler).otherwise(_text_expr(i, seed))
    warc_ts = (
        F.to_timestamp(F.lit("2024-03-01 00:00:00"))
        + F.make_dt_interval(day, F.lit(0), F.lit(0),
                             F.pmod(_h(seed + 18, i), F.lit(86400)).cast("int"))
    )
    return base.select(
        i.alias("doc_id"), url.alias("url"), domain.alias("domain"),
        warc_ts.alias("warc_ts"), text.alias("text"), lang.alias("lang"),
        F.to_date(F.to_timestamp(F.lit("2024-03-01 00:00:00"))
                  + F.make_dt_interval(day)).alias("warc_day"),
    )


def lang_dim(spark: SparkSession) -> DataFrame:
    """ISO-639-1-ish allow-list dimension (~broadcast anti-join path,
    FIXTURES.md §2)."""
    return local_frame(spark, [(c,) for c in ALLOWED_LANGS], "lang_code string")


def write_bucketed(
    df: DataFrame, table_name: str, keys: list[str], n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist ``df`` bucketed (and bucket-sorted) by ``keys`` — the
    co-located-join layout for repeated large-scale referential checks.

    A 100 TB fact table anti-joined against a big dimension shuffles
    BOTH sides on every run; bucketing both tables on the join key at
    write time makes every subsequent join/aggregation on that key
    exchange-free (Spark matches bucket specs and plans a zip of
    pre-sorted buckets). Pay one shuffle at layout time, never again —
    the same trade Iceberg's bucket partition transform makes.

    Uses saveAsTable (bucket metadata lives in the session catalog;
    on a cluster, an external metastore). Overwrites an existing table
    of the same name.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table_name)
