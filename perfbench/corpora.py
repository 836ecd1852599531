"""Seeded inputs for the benchmark and the values a correct engine returns on them.

Webpage corpora come from the engine's own generator
(``sources.tables.synth_webpages``); the dynamic-JSON corpus is built
here with the same id-arithmetic discipline, shifted by the seed. The
expected values are derived independently of the validators: from the
residue constants that plant each defect, or from plain DataFrame
filters and groupings over the generated rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from json_schema_spark.sources import tables as tb

# The keyword set of the engine's headline constraint pass.
WEB_SPEC = {
    "draft": "draft7",
    "columns": {
        "url": {"type": "string", "format": "uri", "pattern": "^https?://",
                "minLength": 12, "maxLength": 2048},
        "lang": {"enum": tb.ALLOWED_LANGS},
        "text": {"type": "string", "minLength": 1},
        "html": {"minLength": 1},
    },
    "required": ["url", "warc_ts", "text", "lang"],
}

# Table-level checks, in the spec's own "dataset" block.
DATASET_SPEC = {
    "draft": "draft7",
    "columns": {},
    "dataset": {
        "unique": ["url"],
        "ref": [{"column": "lang", "table": "lang_dim", "key": "lang_code"}],
        "fd": [{"determinant": "url", "dependent": "lang"}],
        "drift": [
            {"column": "lang", "test": "chi2", "by": "warc_day"},
            {"column": "char_length(text)", "test": "ks", "by": "warc_day"},
            {"column": "char_length(text)", "test": "tdigest", "by": "warc_day"},
        ],
        "dedup": [{"column": "text", "id": "url", "method": "exact",
                   "max_dup_frac": 0.001}],
    },
}

JSON_SCHEMA = {
    "type": "object",
    "required": ["url", "lang", "score"],
    "properties": {
        "url": {"type": "string", "pattern": "^https://",
                "minLength": 10, "maxLength": 200},
        "lang": {"enum": ["en", "de", "fr", "es"]},
        "score": {"type": "number", "minimum": 0, "maximum": 1},
        "tags": {"type": "array", "maxItems": 8,
                 "items": {"type": "string", "minLength": 1}},
        "meta": {"type": "object", "required": ["views"],
                 "properties": {"views": {"type": "integer", "minimum": 0}}},
    },
    "additionalProperties": False,
}

# Each residue plants one violation in the JSON corpus (see synth_json).
JSON_DEFECT_MODS = (7, 11, 13, 17, 19, 23, 29, 31)
JSON_SEED_STRIDE = 7919


def synth_json(spark, n_docs: int, seed: int, partitions: int):
    """``(doc_id, doc)``: n_docs JSON strings whose shape varies by the
    residues of ``doc_id + seed * JSON_SEED_STRIDE`` — missing keys,
    wrong types, out-of-range numbers, extra keys."""
    c = F.col("id") + F.lit(seed * JSON_SEED_STRIDE)
    s = c.cast("string")
    url = F.concat(
        F.when(c % 11 == 0, F.lit('"url":"http://example.com/'))
        .otherwise(F.lit('"url":"https://example.com/')),
        s, F.lit('"'))
    lang = (
        F.when(c % 7 == 0, F.lit(""))
        .when(c % 13 == 0, F.lit(',"lang":"zz"'))
        .otherwise(F.concat(
            F.lit(',"lang":"'),
            F.element_at(F.array(*[F.lit(x) for x in ("en", "de", "fr", "es")]),
                         (c % 4 + 1).cast("int")),
            F.lit('"'))))
    score = (
        F.when(c % 17 == 0, F.lit(',"score":1.5'))
        .when(c % 19 == 0, F.lit(',"score":"high"'))
        .otherwise(F.concat(F.lit(',"score":0.'),
                            F.lpad((c % 100).cast("string"), 2, "0"))))
    tags = (
        F.when(c % 23 == 0, F.lit(',"tags":["a",""]'))
        .when(c % 3 == 0, F.lit(',"tags":["news","web"]'))
        .otherwise(F.lit("")))
    meta = (
        F.when(c % 29 == 0, F.lit(',"meta":{"views":-3}'))
        .otherwise(F.concat(F.lit(',"meta":{"views":'),
                            (c % 1000).cast("string"), F.lit("}"))))
    extra = F.when(c % 31 == 0, F.lit(',"extra":1')).otherwise(F.lit(""))
    return spark.range(0, n_docs, 1, partitions).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("{"), url, lang, score, tags, meta, extra, F.lit("}")).alias("doc"))


def json_expected_invalid(n_docs: int, seed: int) -> int:
    """Documents of :func:`synth_json` that violate the schema."""
    c = np.arange(n_docs, dtype=np.int64) + seed * JSON_SEED_STRIDE
    bad = np.zeros(n_docs, dtype=bool)
    for m in JSON_DEFECT_MODS:
        bad |= c % m == 0
    return int(bad.sum())


def typed_expected(df, n_docs: int) -> dict[tuple[str, str], int]:
    """Violations per (column, keyword) of WEB_SPEC over synth_webpages
    ids 0..n_docs-1. Residue-planted defects follow from the constants
    in ``sources.tables``; the hash-planted 'xx' langs are counted by a
    plain filter over ``df``."""
    i = np.arange(n_docs, dtype=np.int64)
    pos = i > 0
    own_bad = pos & (i % tb.BAD_URL_MOD == 0)
    prev_bad = (i - 1 > 0) & ((i - 1) % tb.BAD_URL_MOD == 0)
    dup = pos & (i % tb.DUP_URL_MOD == 0)
    bad_url = int(np.where(dup, prev_bad, own_bad).sum())
    null_text = pos & (i % tb.NULL_TEXT_MOD == 0)
    empty_text = pos & ~null_text & (i % tb.EMPTY_TEXT_MOD == 0)
    null_ts = pos & (i % tb.NULL_TS_MOD == 0)
    bad_lang = df.where(~F.col("lang").isin(tb.ALLOWED_LANGS)).count()
    return {
        ("url", "type"): 0, ("url", "format"): bad_url, ("url", "pattern"): bad_url,
        ("url", "minLength"): 0, ("url", "maxLength"): 0,
        ("lang", "enum"): bad_lang,
        ("text", "type"): 0, ("text", "minLength"): int(empty_text.sum()),
        ("html", "minLength"): 0,
        ("url", "required"): 0, ("warc_ts", "required"): int(null_ts.sum()),
        ("text", "required"): int(null_text.sum()), ("lang", "required"): 0,
    }


def dataset_expected(df) -> dict[str, tuple[bool, int, float]]:
    """(pass, n_violations, metric) per exact check of DATASET_SPEC,
    from two plain groupings over ``df``."""
    per_url = (df.where(F.col("url").isNotNull()).groupBy("url")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.count_distinct("lang").alias("langs"),
                    F.sum((~F.col("lang").isin(tb.ALLOWED_LANGS)).cast("long")).alias("bad"))
               .agg(F.sum((F.col("n") > 1).cast("long")).alias("dup_keys"),
                    F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("dup_rows"),
                    F.sum((F.col("langs") > 1).cast("long")).alias("fd_bad"),
                    F.count(F.lit(1)).alias("urls"),
                    F.sum("bad").alias("bad_lang"))
               .collect()[0])
    per_text = (df.where(F.col("text").isNotNull()).groupBy("text").count()
                .agg(F.sum(F.col("count") - 1).alias("extra"),
                     F.sum("count").alias("n")).collect()[0])
    dup_keys, dup_rows = per_url["dup_keys"], per_url["dup_rows"]
    fd_bad, bad_lang = per_url["fd_bad"], per_url["bad_lang"]
    frac = per_text["extra"] / per_text["n"]
    return {
        "unique(url)": (dup_keys == 0, dup_rows, float(dup_keys)),
        "ref(lang->lang_code)": (bad_lang == 0, bad_lang, float(bad_lang)),
        "fd(url->lang)": (fd_bad == 0, fd_bad, round(fd_bad / per_url["urls"], 6)),
        "dedup_exact(text)": (frac <= 0.001, per_text["extra"], frac),
    }
