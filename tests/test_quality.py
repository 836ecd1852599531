"""Corpus-quality operators: repetition signals, duplicate-span
coverage, PII scan/redact — incl. direct DuckDB oracle parity (these
queries sit past the driver's 50-entry sample window, so their oracle
check lives HERE; tools/check_oracle.py runs the same comparison)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from json_schema_spark.operators.quality import (
    cross_contamination,
    dup_ngram_frac,
    duplicate_span_coverage,
    duplicate_span_removal,
    pii_counts,
    pii_profile,
    pii_redact,
    repetition_profile,
    tokens_df,
    word_ngram_strings,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "spam spam spam spam spam"),                     # max repetition
    (2, "the cat sat on the mat and then the cat sat"),  # shares spans with 0
    (3, "completely unique words nothing shared here"),
    (4, ""),                                             # degenerate
    (5, None),                                           # degenerate
    (6, "one"),                                          # shorter than n
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_word_ngram_strings(docs):
    rows = {r["doc_id"]: r["g"] for r in tokens_df(docs, "doc_id", "text")
            .select("doc_id",
                    word_ngram_strings(F.col("__toks"), 2).alias("g"))
            .collect()}
    assert rows[0] == ["the cat", "cat sat", "sat on", "on the", "the mat"]
    assert rows[4] == [] and rows[5] == [] and rows[6] == []


def test_dup_ngram_frac(docs):
    rows = {r["doc_id"]: r["f"] for r in tokens_df(docs, "doc_id", "text")
            .select("doc_id",
                    dup_ngram_frac(F.col("__toks"), 1).alias("f"))
            .collect()}
    assert rows[1] == pytest.approx(1 - 1 / 5)   # 5 tokens, 1 distinct
    assert rows[3] == 0.0                        # all distinct
    assert rows[4] == 0.0 and rows[5] == 0.0     # degenerate -> 0, not NULL


def test_repetition_profile_values(docs):
    got = {r["doc_id"]: r.asDict() for r in
           repetition_profile(docs, "doc_id", "text", n=2).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5, 6}
    # doc 1: bigrams = 4x "spam spam" -> top frac 1.0, dup bigram frac 3/4
    assert got[1]["top_ngram_frac"] == 1.0
    assert got[1]["dup_bigram_frac"] == pytest.approx(0.75)
    # doc 0: all 5 bigrams distinct
    assert got[0]["top_ngram_frac"] == pytest.approx(1 / 5)
    assert got[0]["dup_bigram_frac"] == 0.0
    # degenerate docs survive with zeros
    assert got[4]["n_grams"] == 0 and got[4]["top_ngram_frac"] == 0.0
    assert got[6]["n_grams"] == 0


def test_duplicate_span_coverage_values(docs):
    got = {r["doc_id"]: r.asDict() for r in
           duplicate_span_coverage(docs, "doc_id", "text", n=3).collect()}
    # docs 0 and 2 share "the cat sat" / "cat sat on" / "sat on the" /
    # "on the mat"(doc0) vs doc2's trigram set
    assert got[0]["dup_spans"] > 0
    assert got[2]["dup_spans"] > 0
    assert got[3]["dup_spans"] == 0 and got[3]["dup_span_frac"] == 0.0
    assert got[1]["n_spans"] == 3  # "spam spam spam" x3 positions
    # within-doc-only repetition is NOT cross-doc duplication
    assert got[1]["dup_spans"] == 0
    assert got[4]["n_spans"] == 0 and got[5]["n_spans"] == 0


def test_duplicate_span_removal_values(docs):
    got = {r["doc_id"]: r.asDict() for r in
           duplicate_span_removal(docs, "doc_id", "text", n=3).collect()}
    # docs 0 and 2 share trigrams; every shared-gram-covered token is
    # cut from BOTH docs (all-copies removal, Lee et al. semantics)
    assert got[0]["removed_tokens"] > 0
    assert got[2]["removed_tokens"] > 0
    # doc 0 "the cat sat on the mat": doc 2's trigram set covers
    # every position of doc 0 -> fully removed
    assert got[0]["kept_text"] == "" and got[0]["removed_tokens"] == 6
    # within-doc-only repetition is NOT cross-doc duplication: doc 1
    # survives untouched (canonical single-space join)
    assert got[1]["removed_tokens"] == 0
    assert got[1]["kept_text"] == "spam spam spam spam spam"
    assert got[3]["removed_tokens"] == 0
    assert got[3]["kept_text"] == "completely unique words nothing shared here"
    # degenerate docs: zero counts, empty (never NULL) kept_text
    assert got[4]["n_tokens"] == 0 and got[4]["kept_text"] == ""
    # token-count conservation on every row
    for r in got.values():
        assert 0 <= r["removed_tokens"] <= r["n_tokens"]
        n_kept = len(r["kept_text"].split()) if r["kept_text"] else 0
        assert n_kept == r["n_tokens"] - r["removed_tokens"]


def test_cross_contamination_values(docs):
    train = docs.where("doc_id IN (0, 3)")     # "the cat sat on the mat" + unique words
    ev = docs.where("doc_id IN (1, 2, 4, 6)")
    got = {r["doc_id"]: r.asDict() for r in
           cross_contamination(train, ev, "doc_id", "text", n=3).collect()}
    assert set(got) == {1, 2, 4, 6}
    # doc 2 shares "the cat sat"/"cat sat on"/"sat on the"/"on the mat"
    # with train doc 0, plus the trailing REPEAT of "the cat sat"
    # (positions count, not distinct grams); its middle trigrams are novel
    assert got[2]["hit_spans"] == 5 and got[2]["n_spans"] == 9
    assert 0 < got[2]["contamination_frac"] < 1
    # doc 1 ("spam spam ...") shares nothing with train
    assert got[1]["hit_spans"] == 0 and got[1]["contamination_frac"] == 0.0
    # degenerate eval docs survive with zeros
    assert got[4]["n_spans"] == 0 and got[6]["n_spans"] == 0


def test_gram_hash_128_matches_64(docs):
    """hash_bits=128 (the exact-at-scale key: two seeded xxhash64s in
    a struct) must be row-identical to the default 64-bit key at test
    scale, where both are collision-free — same rows, same schema."""
    for fn, kw in ((duplicate_span_coverage, {}),
                   (duplicate_span_removal, {}),
                   (cross_contamination, {})):
        if fn is cross_contamination:
            args64 = (docs.where("doc_id IN (0, 3)"),
                      docs.where("doc_id IN (1, 2, 4, 6)"),
                      "doc_id", "text")
        else:
            args64 = (docs, "doc_id", "text")
        a = fn(*args64, hash_bits=64, **kw)
        b = fn(*args64, hash_bits=128, **kw)
        assert a.schema == b.schema
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b.collect()))
    with pytest.raises(ValueError, match="hash_bits"):
        duplicate_span_coverage(docs, "doc_id", "text", hash_bits=96)


@pytest.mark.parametrize("build", [
    lambda d: repetition_profile(d, "doc_id", "text", n=2),
    lambda d: duplicate_span_coverage(d, "doc_id", "text", n=3),
    lambda d: duplicate_span_removal(d, "doc_id", "text", n=3),
    lambda d: cross_contamination(d.where("doc_id % 2 = 0"),
                                  d.where("doc_id % 2 = 1"),
                                  "doc_id", "text", n=3),
])
def test_plan_splits_once_per_row(docs, build):
    """Plan-shape guard for the O(tokens²)-splits trap: higher-order
    gram lambdas are interpreted and re-evaluate inlined subtrees per
    ELEMENT, so the tokenizing split() must appear in the optimized
    plan exactly once per scan branch (its own projection), never
    inside a lambda body.  The original inlined form burned 26 CPU-
    minutes on one task at a 5,000-doc bench scale."""
    plan = build(docs)._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        # the tokenizing Project is its own plan node; any node holding
        # BOTH a lambda and a split() has re-inlined the tokenizer into
        # a gram lambda (each node prints as one line of the tree) —
        # that's one interpreted split per lambda ELEMENT
        assert not ("lambdafunction" in line and "split(" in line), (
            f"split() inlined into a lambda-bearing node: {line[:300]}")
        # no gram lambda may be collapsed into an Aggregate: computed
        # grouping keys are re-evaluated once per EXPLODED row (96 s of
        # CPU on 5k docs when the signal columns rode the groupBy keys)
        assert not ("Aggregate [" in line and "lambdafunction" in line), (
            f"gram lambda inside an Aggregate node: {line[:300]}")


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if "float" in str(df[c].dtype):
            df[c] = df[c].round(9)
        if "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_pack_assignments_greedy_boundaries(spark):
    """Contiguous-fill semantics: pack = budget window of the START
    offset; a straddler stays whole in its start pack; over-budget
    docs truncate to one pack; zero-token docs are zero-width."""
    from json_schema_spark.operators.packing import (
        pack_assignments, pack_summary)

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         enumerate([4, 4, 4, 25, 0, 3])],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pack_assignments(
        df, "doc_id", "text", budget=10, n_shards=1).collect()}
    # id-ordered offsets: 0,4,8,12(capped 10->offset 12),22,22
    assert [got[i]["pack_id"] for i in range(6)] == [0, 0, 0, 1, 2, 2]
    assert got[3]["packed_tokens"] == 10 and got[3]["n_tokens"] == 25
    assert got[4]["packed_tokens"] == 0
    packs = {(r["shard"], r["pack_id"]): r.asDict() for r in pack_summary(
        df, "doc_id", "text", budget=10, n_shards=1).collect()}
    assert packs[(0, 0)]["n_docs"] == 3 and packs[(0, 0)]["pack_tokens"] == 12
    assert packs[(0, 0)]["fill_ratio"] == pytest.approx(1.2)  # straddler
    with pytest.raises(ValueError):
        pack_assignments(df, "doc_id", "text", budget=0)


@pytest.mark.parametrize(
    "name", ["repetition_profile", "dup_span_coverage", "pii_scan",
             "contamination_check", "sequence_packing"])
def test_past_window_queries_match_duckdb_oracle(spark, name):
    """The driver's sf0.01 comparison, run in-tree for the five quality
    queries in its 50-entry sample window, so a mismatch fails here
    before the driver sees it. line_dedup and dup_span_removal sit past
    the window; test_driver_contract compares them, dtypes included."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.01"
    sdf = entry.queries()[name](spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    odf = con.execute(entry.oracle_sql()[name]).df()
    assert len(sdf) > 0
    pd.testing.assert_frame_equal(_canon(sdf), _canon(odf), check_dtype=False)


@pytest.mark.parametrize("seed", [7, 23, 911])
def test_quality_queries_fuzz_vs_duckdb(spark, tmp_path, seed):
    """Seeded-random corpora through the ACTUAL driver contract: write
    a synthetic documents.parquet (hostile shapes: empty/NULL texts,
    run-on whitespace, single tokens, heavy repeats, cross-doc shared
    spans), then run every quality query and its DuckDB oracle on it —
    the same comparison the fixed sf0.01 check runs, across corpora
    chosen by an adversary instead of the test-data generator."""
    import random

    import __spark_entry__ as entry

    rng = random.Random(seed)
    vocab = ["a", "b", "cc", "dd", "the", "x9"]
    # \x0B pins the tokenizer-parity contract (ADVICE r4): Java's \s
    # matches vertical tab, RE2's does not, so every oracle splits on
    # '[\s\x0b]+' — a corpus that never emits \x0B can't catch a
    # regression there.
    seps = [" ", "  ", "\t", " \t ", "\x0b", " \x0b"]

    def text(i: int):
        r = rng.random()
        if r < 0.08:
            return None
        if r < 0.16:
            return rng.choice(["", " ", "\t\t", "\x0b"])
        n = rng.randint(1, 12)
        if r < 0.3:                       # heavy within-doc repeat
            tok = rng.choice(vocab)
            return rng.choice(seps).join([tok] * n)
        if r < 0.45:                      # multi-line docs with shared
            #                               boilerplate (line_dedup food)
            lines = [rng.choice(seps).join(rng.choices(vocab, k=rng.randint(1, 5)))
                     for _ in range(rng.randint(2, 5))]
            if rng.random() < 0.7:
                lines.insert(rng.randrange(len(lines) + 1),
                             rng.choice(["(c) example footer",
                                         "  cookie notice ", "", "\t"]))
            return "\n".join(lines)
        return rng.choice(seps).join(rng.choices(vocab, k=n))

    rows = [(i, text(i), f"src{i % 3}") for i in range(60)]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string, source string") \
        .write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    con = duckdb.connect()
    # Spark writes a DIRECTORY of part files; the driver tables are
    # single files, so the fixed-path tests use the bare name
    con.execute(f"CREATE VIEW documents AS SELECT * "
                f"FROM '{sf}/documents.parquet/*.parquet'")
    for name in ("repetition_profile", "dup_span_coverage", "pii_scan",
                 "contamination_check", "sequence_packing", "line_dedup",
                 "dup_span_removal"):
        sdf = entry.queries()[name](spark, sf).toPandas()
        odf = con.execute(entry.oracle_sql()[name]).df()
        pd.testing.assert_frame_equal(
            _canon(sdf), _canon(odf), check_dtype=False), name


def test_compression_ratio_matches_direct_zlib(spark):
    """Every row pinned against direct zlib.compress — the rows-only
    evidence for the compression_signal driver query (deflate has no
    SQL twin)."""
    import zlib

    from json_schema_spark.operators.quality import compression_ratio

    rows = [
        (0, "spam " * 200),            # boilerplate: ratio << 1
        (1, "the quick brown fox jumps over the lazy dog " * 3),
        (2, ""),                        # empty: ratio 1.0 by convention
        (3, None),                      # NULL survives as NULLs
        (4, "héllo wörld ünïcode"),    # utf-8 multibyte counted in BYTES
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           compression_ratio(df, "doc_id", "text").collect()}
    for i, txt in rows:
        if txt is None:
            assert got[i]["utf8_bytes"] is None
            assert got[i]["compression_ratio"] is None
            continue
        b = txt.encode("utf-8")
        assert got[i]["utf8_bytes"] == len(b)
        assert got[i]["zlib_bytes"] == len(zlib.compress(b, 6))
        if len(b) == 0:
            assert got[i]["compression_ratio"] == 1.0
        else:
            assert got[i]["compression_ratio"] == pytest.approx(
                len(zlib.compress(b, 6)) / len(b))
    assert got[0]["compression_ratio"] < 0.1    # boilerplate compresses away
    assert got[0]["compression_ratio"] < got[4]["compression_ratio"]


PII_DOCS = [
    (0, "contact alice.smith+spam@example.co.uk or call 555-123-4567"),
    (1, "server at 10.0.255.3 and 192.168.1.1; ssn 123-45-6789"),
    (2, "no pii here at all"),
    (3, "+1 (555) 123-4567 and bob@x.io"),
    (4, None),
]


def test_pii_counts_and_redact(spark):
    df = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    prof = {r["doc_id"]: r.asDict() for r in
            pii_profile(df, "doc_id", "text").collect()}
    assert prof[0]["n_email"] == 1 and prof[0]["n_phone"] == 1
    assert prof[1]["n_ipv4"] == 2 and prof[1]["n_ssn"] == 1
    assert prof[2]["n_pii"] == 0
    assert prof[3]["n_email"] == 1 and prof[3]["n_phone"] == 1
    assert prof[4]["n_pii"] is None  # NULL text -> NULL counts, not 0

    red = {r["doc_id"]: r["red"] for r in df.select(
        "doc_id", pii_redact(F.col("text")).alias("red")).collect()}
    assert red[0] == "contact [PII:email] or call [PII:phone]"
    assert red[1] == "server at [PII:ipv4] and [PII:ipv4]; ssn [PII:ssn]"
    assert red[2] == "no pii here at all"
    assert "@" not in red[3] and "555" not in red[3]


def test_pii_patterns_duckdb_parity(spark):
    """The patterns are written in the Java∩RE2 subset; prove RE2
    (DuckDB) counts the same matches Java (Spark) does."""
    from json_schema_spark.operators.quality import PII_PATTERNS

    df = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    sdf = df.where(F.col("text").isNotNull()).select(
        "doc_id", *[c.alias(k) for k, c in pii_counts(F.col("text"))]
    ).toPandas()
    con = duckdb.connect()
    con.register("pii_docs", pd.DataFrame(PII_DOCS, columns=["doc_id", "text"]))
    cols = ", ".join(
        f"length(regexp_extract_all(text, '{p}')) AS {k}"
        for k, p in PII_PATTERNS.items()
    )
    odf = con.execute(
        f"SELECT doc_id, {cols} FROM pii_docs WHERE text IS NOT NULL"
    ).df()
    pd.testing.assert_frame_equal(_canon(sdf), _canon(odf), check_dtype=False)


def test_line_boilerplate_dedup_values(spark):
    """Exact verdicts on a hand-built micro corpus: trimmed-match
    across docs, byte-identical surviving lines (leading whitespace
    preserved), empty lines never boilerplate, NULL text stays NULL."""
    from json_schema_spark.operators.quality import line_boilerplate_dedup

    rows = [
        (0, "unique alpha\ncookie notice\nunique beta"),
        (1, "  cookie notice \nonly here"),      # trimmed match -> dropped
        (2, "\nsolo\n"),                          # empties survive
        (3, "\nmiddle\n"),                        # shares only empties
        (4, None),
        (5, "cookie notice"),                     # whole doc is boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           line_boilerplate_dedup(df, "doc_id", "text").collect()}
    assert got[0]["clean_text"] == "unique alpha\nunique beta"
    assert (got[0]["n_lines"], got[0]["removed_lines"]) == (3, 1)
    assert got[1]["clean_text"] == "only here"    # its line bytes kept
    assert got[2]["clean_text"] == "\nsolo\n"     # byte-identical
    assert got[2]["removed_lines"] == 0
    assert got[3]["clean_text"] == "\nmiddle\n"
    assert got[4]["clean_text"] is None
    assert (got[4]["n_lines"], got[4]["removed_lines"]) == (0, 0)
    assert got[5]["clean_text"] == ""             # everything removed
    assert got[5]["removed_frac"] == 1.0

    # identity property: a threshold no line reaches reassembles every
    # non-null text byte-identically
    ident = line_boilerplate_dedup(df, "doc_id", "text",
                                   min_doc_freq=10 ** 9)
    for r in ident.collect():
        want = dict(rows)[r["doc_id"]]
        assert r["clean_text"] == want and r["removed_lines"] == 0

    # 128-bit key path row-identical to the 64-bit default
    wide = {r["doc_id"]: r.asDict() for r in
            line_boilerplate_dedup(df, "doc_id", "text",
                                   hash_bits=128).collect()}
    assert wide == got


# ---------------------------------------------------------------------------
# token_entropy: per-doc Shannon entropy + type-token ratio
# ---------------------------------------------------------------------------

def test_token_entropy_hand_values(spark):
    import math

    from json_schema_spark.operators.quality import token_entropy

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "loop"), (3, "x y z w"), (4, ""), (5, None),
         (6, "Case CASE case")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in token_entropy(df, "doc_id", "text").collect()}
    # doc 1: n=3, types {a:2, b:1} -> H = 2/3*log2(3/2) + 1/3*log2(3)
    h1 = (2 / 3) * math.log2(3 / 2) + (1 / 3) * math.log2(3)
    assert got[1].n_tokens == 3 and got[1].n_types == 2
    assert got[1].entropy == round(h1, 6)
    assert got[1].norm_entropy == round(round(h1, 6) / math.log2(3), 6)
    assert got[1].ttr == round(2 / 3, 6)
    # single-token doc: exactly 0.0 (log2(n/c) form, no -0.0 edge)
    assert got[2].entropy == 0.0 and got[2].norm_entropy == 0.0
    assert got[2].ttr == 1.0
    # uniform distribution hits the length ceiling: norm_entropy == 1
    assert got[3].entropy == 2.0 and got[3].norm_entropy == 1.0
    # case folds to ONE type -> zero entropy
    assert got[6].n_types == 1 and got[6].entropy == 0.0
    # empty / NULL texts carry no distribution
    assert 4 not in got and 5 not in got
