"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

Everything is built-in `pyspark.sql.functions` — regex counts, array
intersections, hash built-ins — so the whole module rides whole-stage
codegen. No Python touches a row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/stopword
# heuristic. Deliberately small: the operator's value is its Spark
# shape (profile broadcast as literals, one pass), not lexicography.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "un", "una"],
    "ru": ["и", "в", "не", "на", "что", "с", "это"],
    "zh": ["的", "是", "了", "在", "和", "有"],
}

TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish: words/nums/punct


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens; empty/blank text -> empty array."""
    return F.when(
        F.trim(col) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(col), r"\s+"))


def token_count(col: Column) -> Column:
    return F.size(ws_tokens(col))


def regex_token_count(col: Column) -> Column:
    """BPE-ish token count via regexp_count (words, number runs, and
    individual punctuation marks counted separately)."""
    return F.regexp_count(col, F.lit(TOKEN_RE))


def punct_ratio(col: Column) -> Column:
    n = F.char_length(col)
    stripped = F.char_length(F.regexp_replace(col, r"[\p{L}\p{N}\s]", ""))
    return F.when(n > 0, stripped / n).otherwise(F.lit(0.0))


def alpha_ratio(col: Column) -> Column:
    n = F.char_length(col)
    alpha = F.char_length(F.regexp_replace(col, r"[^\p{L}]", ""))
    return F.when(n > 0, alpha / n).otherwise(F.lit(0.0))


def word_diversity(col: Column) -> Column:
    toks = ws_tokens(col)
    return F.when(
        F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)
    ).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length saturation, alpha
    ratio, low punctuation, lexical diversity — the standard cheap
    pre-filter stack for web-text pipelines."""
    length_score = F.least(F.char_length(col) / F.lit(500.0), F.lit(1.0))
    score = (
        0.3 * length_score
        + 0.3 * alpha_ratio(col)
        + 0.2 * (1.0 - F.least(punct_ratio(col) * 4, F.lit(1.0)))
        + 0.2 * word_diversity(col)
    )
    return F.round(score, 6)


def lang_scores(col: Column) -> list[tuple[str, Column]]:
    toks = ws_tokens(F.lower(col))
    out = []
    for lang, words in LANG_PROFILES.items():
        profile = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(profile, t)))
        score = F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))
        out.append((lang, score))
    return out


def lang_id(col: Column) -> Column:
    """Stopword-profile language ID: argmax over per-language hit
    ratios; 'und' (undetermined) when nothing matches. Ties resolved
    by profile order (stable)."""
    scores = lang_scores(col)
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    for lang, score in reversed(scores):
        result = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(result)
    return result


def doc_fingerprint(col: Column) -> Column:
    """Normalization fingerprint: md5 of case-folded, punct-stripped,
    whitespace-collapsed text — the cheap canonical-form dedup key."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}]+", " "))
    return F.md5(norm)


def shingle_fingerprint(col: Column, shingle_len: int = 8) -> Column:
    """Rolling-hash-style fingerprint: min xxhash64 over all
    character shingles of length ``shingle_len`` (computed via
    substring transform — one projection, no explode)."""
    n = F.char_length(col)
    return F.when(
        n >= shingle_len,
        F.array_min(
            F.transform(
                F.sequence(F.lit(1), n - (shingle_len - 1)),
                lambda i: F.xxhash64(F.substring(col, i, shingle_len)),
            )
        ),
    ).otherwise(F.xxhash64(col))


def text_profile(df: DataFrame, text_col: str, by: str | None = None) -> DataFrame:
    """One-pass text-metrics aggregate (optionally grouped): token
    counts, quality components — a single groupBy, partial-aggregable."""
    c = F.col(text_col)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(c).cast("long")).alias("total_tokens"),
        F.round(F.avg(token_count(c)), 4).alias("avg_tokens"),
        F.sum(regex_token_count(c).cast("long")).alias("total_regex_tokens"),
        F.round(F.avg(quality_score(c)), 4).alias("avg_quality"),
        F.round(F.avg(punct_ratio(c)), 4).alias("avg_punct_ratio"),
        F.round(F.avg(word_diversity(c)), 4).alias("avg_diversity"),
    ]
    if by:
        return df.where(c.isNotNull()).groupBy(by).agg(*aggs)
    return df.where(c.isNotNull()).agg(*aggs)


# ---------------------------------------------------------------------------
# URL canonicalization (web-pipeline dedup key)
# ---------------------------------------------------------------------------

def canonical_url(col: Column) -> Column:
    """Canonical form of a URL for dedup keys: lowercase scheme+host,
    strip the fragment, strip scheme-default ports (:80 http, :443
    https). Pure regexp built-ins — byte-for-byte reproducible in any
    engine (the DuckDB oracle runs the same rules), which is the whole
    point of a canonical key.  Values without a scheme pass through
    fragment-stripped only."""
    u = F.regexp_replace(col, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(.*)$", 1)
    host = (
        F.when(scheme == F.lit("http"), F.regexp_replace(host, r":80$", ""))
        .when(scheme == F.lit("https"), F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    return F.when(scheme == F.lit(""), u).otherwise(
        F.concat(scheme, F.lit("://"), host, rest))


# ---------------------------------------------------------------------------
# registrable domain (eTLD+1) + domain blocklist gate
# (the RefinedWeb/FineWeb "URL filtering" stage: UT1-style blocklists
# are applied at the registrable-domain level, not the raw host)
# ---------------------------------------------------------------------------

# Deterministic vendored subset of the Public Suffix List's multi-label
# rules. Production would vendor the full PSL (publicsuffix.org, ~9k
# rules — still a broadcast-sized literal set); the sandbox has no
# network, so this subset pins the ALGORITHM (longest-matching rule,
# with all three PSL rule kinds: plain multi-label, wildcard,
# exception) and the Spark shape. Single-label TLDs need no table:
# they are the default branch.
MULTI_LABEL_SUFFIXES: frozenset[str] = frozenset({
    "co.uk", "ac.uk", "gov.uk", "org.uk", "me.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.au", "net.au", "org.au", "edu.au",
    "co.in", "co.nz", "co.za", "co.kr", "co.id",
    "com.br", "com.cn", "com.mx", "com.tr", "com.ar",
    "com.sg", "com.hk", "com.tw", "com.pl",
})

# PSL wildcard rules (`*.ck`): EVERY second-level label under these
# TLDs is itself a public suffix, so the registrable domain is three
# labels — except for the explicitly-listed exception rules (`!www.ck`
# in the PSL: that second-level IS registrable).
WILDCARD_TLDS: frozenset[str] = frozenset({
    "ck", "er", "bd", "jm", "kw", "mm", "np", "pg",
})
WILDCARD_EXCEPTIONS: frozenset[str] = frozenset({"www.ck"})


def url_host(col: Column) -> Column:
    """Lowercased host of a URL: scheme required, userinfo and port
    stripped, IPv6 bracket literals unwrapped. Pure regexp (no
    parse_url) so the DuckDB oracle can run the identical rule — the
    bracket alternative must come FIRST (an IPv6 host contains the
    port colon the bare branch stops at), `[^/?#:]*` stops at the port
    colon, the optional `[^/?#@]*@` group eats userinfo. No-scheme
    values yield ''."""
    v6 = F.regexp_extract(
        col, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?\[([^\]/?#]*)\]", 1)
    bare = F.regexp_extract(
        col, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:@]*)", 1)
    return F.lower(F.when(v6 != "", v6).otherwise(bare))


# dotted-quad host: eTLD+1 logic must not split an IP into a fake
# "registrable domain" (93.184.216.34 -> "216.34")
_IPV4_RX = r"^\d{1,3}(\.\d{1,3}){3}$"


def registrable_domain(host: Column) -> Column:
    """eTLD+1 of a lowercased host: if the last TWO labels form a known
    multi-label public suffix — or the TLD carries a PSL wildcard rule
    (``*.ck``) and the second-level isn't an exception (``!www.ck``) —
    keep three labels, else keep two; hosts with fewer labels (e.g.
    ``localhost``) and IP literals (dotted quads, IPv6 with ':') pass
    through whole. Pure codegen (split + element_at + INs over the
    broadcast-literal rule sets) — at 10^12 rows this is a projection,
    zero shuffle."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2),
        F.element_at(parts, -1))
    last1 = F.element_at(parts, -1)
    is_ip = host.rlike(_IPV4_RX) | host.contains(":")
    return (
        F.when(is_ip, host)
        .when((n >= 3) & last1.isin(*sorted(WILDCARD_TLDS))
              & ~last2.isin(*sorted(WILDCARD_EXCEPTIONS)), last3)
        .when((n >= 3) & last2.isin(*sorted(MULTI_LABEL_SUFFIXES)), last3)
        .when(n >= 2, last2)
        .otherwise(host)
    )


def domain_blocklist_flag(
    df: DataFrame,
    url_col: str,
    blocked: DataFrame,
    *,
    host_col: str = "host",
    domain_col: str = "reg_domain",
    flag_col: str = "blocked",
) -> DataFrame:
    """Mark rows whose registrable domain appears in ``blocked`` (a
    one-column DataFrame of lowercase domains). Broadcast LEFT join —
    real blocklists (UT1 adult ≈ 4M domains) are a few hundred MB,
    comfortably broadcast-sized, so the 10^12-row side never shuffles.
    Returns the input plus (host, reg_domain, blocked). Callers drop
    with ``.where(~F.col(flag_col))`` or audit with the flag."""
    bname = blocked.columns[0]
    b = blocked.select(
        F.lower(F.col(bname)).alias("__blocked_domain")).distinct()
    out = df.withColumn(host_col, url_host(F.col(url_col)))
    out = out.withColumn(domain_col, registrable_domain(F.col(host_col)))
    return (
        out.join(F.broadcast(b),
                 out[domain_col] == F.col("__blocked_domain"), "left")
        .withColumn(flag_col, F.col("__blocked_domain").isNotNull())
        .drop("__blocked_domain")
    )


# ---------------------------------------------------------------------------
# gap-based sessionization (events stream -> sessions)
# ---------------------------------------------------------------------------

def sessionize(
    df: DataFrame, user_col: str, ts_col: str, gap_minutes: int = 30,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the gap
    to the user's previous event exceeds ``gap_minutes``.

    Classic two-window pass, both over the SAME (user, ts) ordering so
    Spark plans ONE shuffle + one sort: lag() marks session starts,
    a running sum of the marks numbers them.  Returns the input plus
    (session_seq, session_id) where session_id is unique per
    (user, session_seq).
    """
    # NULL event times carry no ordering information: drop them here,
    # otherwise the row AFTER a null-ts row sees lag()=NULL and starts a
    # spurious session.
    df = df.where(F.col(ts_col).isNotNull())
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    # cast("double") keeps fractional seconds — unix_timestamp truncates
    # to whole seconds, which mislabels gaps in (gap, gap+1s)
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    is_start = epoch - F.lag(epoch).over(w) > F.lit(float(gap_s))
    marked = df.withColumn(
        "__new_session",
        F.when(is_start | F.lag(F.col(ts_col)).over(w).isNull(), 1).otherwise(0),
    )
    return (
        marked.withColumn(
            "session_seq",
            F.sum("__new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .drop("__new_session")
        .withColumn(
            "session_id",
            F.concat(F.col(user_col).cast("string"), F.lit("#"),
                     F.col("session_seq").cast("string")),
        )
    )


# ---------------------------------------------------------------------------
# encoding-artifact detection (the ftfy/CCNet "broken bytes" cleaning signal)
# ---------------------------------------------------------------------------

# Classic UTF-8-decoded-as-Latin-1 double-encodings (mojibake): an
# alternation of LITERAL digraphs (written with \u escapes because the
# second char of each is often an invisible C1 control), not classes,
# so Java regex (Spark) and RE2 (DuckDB oracle) count byte-identically.
MOJIBAKE_RX = (
    "\u00c3\u00a9|\u00c3\u00a8|\u00c3\u00a4|\u00c3\u00b6|\u00c3\u00bc|"  # e/e/a/o/u accents
    "\u00c3\u00b1|\u00c3\u00a7|"                                   # n-tilde, c-cedilla
    "\u00e2\u0080\u0099|\u00e2\u0080\u009c|\u00e2\u0080\u009d|"  # smart quotes
    "\u00e2\u0080\u0094|\u00e2\u0080\u0093|\u00e2\u0080\u00a6|"  # dashes, ellipsis
    "\u00c2\u00a0|\u00c2\u00ae|\u00c2\u00a9"                      # nbsp, (R), (C)
)
# C0 controls except tab/newline/CR (structural whitespace stays legal)
CONTROL_RX = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


def encoding_artifact_counts(col: Column) -> dict[str, Column]:
    """Per-document encoding-damage signals: mojibake digraph count,
    U+FFFD replacement-char count, stray C0 control count, and an
    is_clean verdict. Pure regexp_count built-ins — one codegen
    projection, zero shuffle, zero executor Python; patterns live in
    the Java-and-RE2 common subset so the DuckDB oracle reproduces
    every count. At 100 TB this composes into the quality battery as
    three more narrow columns on the existing single text pass."""
    n_moji = F.regexp_count(col, F.lit(MOJIBAKE_RX))
    n_repl = F.regexp_count(col, F.lit("\ufffd"))
    n_ctrl = F.regexp_count(col, F.lit(CONTROL_RX))
    return {
        "n_mojibake": n_moji.cast("long"),
        "n_replacement": n_repl.cast("long"),
        "n_control": n_ctrl.cast("long"),
        "is_clean": (n_moji + n_repl + n_ctrl) == F.lit(0),
    }


# Unicode script ranges as EXPLICIT codepoint classes — never \p{IsLatin}
# (Java) or \p{Latin} (RE2), whose names differ between engines; literal
# ranges count byte-identically in both. Coverage is the basic
# multilingual blocks a web-corpus language mix report needs; extend by
# adding rows, the plan shape is per-range regexp_count columns.
SCRIPT_RANGES = {
    "latin": "[A-Za-zÀ-ɏ]",
    "cyrillic": "[Ѐ-ӿ]",
    "greek": "[Ͱ-Ͽ]",
    "arabic": "[؀-ۿ]",
    "devanagari": "[ऀ-ॿ]",
    "cjk": "[一-鿿]",
    "hangul": "[가-힯]",
}


def script_profile(col: Column) -> dict[str, Column]:
    """Per-document Unicode script mix: one ``n_<script>`` count per
    SCRIPT_RANGES row plus ``dominant`` (script with the max count;
    lexicographically larger name wins exact ties — deterministic and
    oracle-reproducible; 'none' when no script chars at all; NULL text
    propagates NULL). One codegen projection, zero shuffle — at 100 TB
    this rides the same single text pass as the quality battery."""
    counts = {name: F.regexp_count(col, F.lit(rx)).cast("long")
              for name, rx in SCRIPT_RANGES.items()}
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    dominant = F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(total == 0, F.lit("none")).otherwise(
            F.array_max(F.array(*[
                F.struct(c.alias("c"), F.lit(n).alias("s"))
                for n, c in counts.items()
            ]))["s"]))
    out: dict[str, Column] = {f"n_{n}": c for n, c in counts.items()}
    out["dominant"] = dominant
    return out


def readability_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Flesch reading-ease per document: (id, n_words, n_sentences,
    n_syllables, fre) with
    ``fre = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)``
    rounded to 4.  The classic prose-vs-boilerplate quality signal the
    C4/Gopher batteries approximate with punctuation ratios.

    Conventions pinned for oracle parity: sentences = count of
    ``[.!?]+`` runs, floored at 1 (headline-style text is "one
    sentence"); syllables = per-word count of ``[aeiouy]+`` vowel
    groups on the lowercased token, floored at 1 per word (the
    standard heuristic); blank/empty text yields 0 words and NULL
    fre; NULL text propagates NULL metrics.  Both regexes live in the
    Java∩RE2 common subset, so the DuckDB twin runs the identical
    expressions.

    Scale shape: the token array is materialized ONCE per doc in its
    own projection before the per-word lambda touches it (quality.py
    HOF rule); everything is a codegen projection — zero shuffle,
    zero Python.
    """
    d1 = (
        df.select(F.col(id_col),
                  F.col(text_col).alias("__text"),
                  ws_tokens(F.lower(F.col(text_col))).alias("__toks"))
    )
    n_words = F.size("__toks")
    n_sent = F.greatest(
        F.lit(1), F.regexp_count("__text", F.lit(r"[.!?]+"))).cast("long")
    n_syll = F.aggregate(
        F.transform(
            F.col("__toks"),
            lambda t: F.greatest(
                F.lit(1), F.regexp_count(t, F.lit("[aeiouy]+"))),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    fre = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sent)
        - F.lit(84.6) * (n_syll / n_words),
        4,
    )
    return d1.select(
        F.col(id_col),
        F.when(F.col("__text").isNotNull(), n_words.cast("long"))
        .alias("n_words"),
        F.when(F.col("__text").isNotNull(), n_sent).alias("n_sentences"),
        F.when(F.col("__text").isNotNull(), n_syll).alias("n_syllables"),
        F.when(F.col("__text").isNotNull() & (n_words > 0), fre)
        .alias("fre"),
    )


def bitext_candidates(
    df: DataFrame,
    id_col: str,
    url_col: str,
    langs: list[str],
) -> DataFrame:
    """URL-parallel bitext candidate pairs (the ParaCrawl/CCMatrix
    URL-matching recipe): two pages whose URLs are identical except
    for a recognized language path segment are candidate translations.

    Per URL with a ``/<lang>/`` segment (first match; ``langs`` is the
    recognized set), the key is the URL with that segment replaced by
    ``/_/``.  Within each (key, lang), the representative is the
    MINIMUM id (deduplicating same-language revisits before pairing —
    standard practice).  Output: one row per unordered language pair
    per key, (pair_key, lang_a, id_a, lang_b, id_b) with
    lang_a < lang_b.

    Scale shape: segment detection and key normalization are ONE
    codegen regexp projection (no UDF); representative selection is a
    partial-aggregable min per (key, lang); the pairing self-join is
    keyed on the normalized URL — BOTH sides come from the same
    aggregate, so the exchange is reused, co-partitioned, and per-key
    fanout is bounded by |langs| (a key yields at most C(|langs|, 2)
    pairs) — no skew, no salt needed, page bodies never touched.
    Determinism: regexp_extract takes the FIRST lang segment; min-id
    representatives and the lang_a < lang_b order make the pair set
    engine-independent.
    """
    alt = "|".join(sorted(langs))
    pat = f"/({alt})/"
    url = F.col(url_col)
    keyed = (
        df.select(
            F.col(id_col).alias("id"),
            F.regexp_extract(url, pat, 1).alias("seg_lang"),
            F.regexp_replace(url, pat, "/_/").alias("pair_key"),
        )
        .where(F.col("seg_lang") != "")
    )
    reps = keyed.groupBy("pair_key", "seg_lang").agg(
        F.min("id").alias("rep_id"))
    a = reps.select("pair_key", F.col("seg_lang").alias("lang_a"),
                    F.col("rep_id").alias("id_a"))
    b = reps.select("pair_key", F.col("seg_lang").alias("lang_b"),
                    F.col("rep_id").alias("id_b"))
    return (
        a.join(b, "pair_key")
        .where(F.col("lang_a") < F.col("lang_b"))
        .select("pair_key", "lang_a", "id_a", "lang_b", "id_b")
    )


def lang_confusion(df: DataFrame, text_col: str, label_col: str,
                   round_to: int = 6) -> DataFrame:
    """Language-ID quality audit: confusion matrix of the stopword-
    profile ``lang_id`` prediction against the metadata language label
    — (label_lang, pred_lang, n_docs, share, is_match), ``share``
    normalized within each label row.

    Why: crawl metadata lang and content-predicted lang disagree
    constantly in web corpora; the per-label confusion matrix is the
    standard audit before trusting either side for filtering or
    mixture weighting ('und' = the heuristic abstained).

    Scale shape: the prediction is a per-row codegen/HOF projection
    (profile lists are literals — nothing broadcasts, nothing
    shuffles); the matrix is ONE partial-aggregable groupBy on two
    short keys, and the per-label normalizer is aggregate-sized,
    re-entering as a broadcast. |langs|² output rows.
    """
    cells = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(label_col).alias("label_lang"),
                lang_id(F.col(text_col)).alias("pred_lang"))
        .groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        # lazy reuse barrier (r6, guide §7.2): cells feeds both the
        # per-label normalizer and the output join — without it the
        # corpus-scale lang_id projection (per-language stopword HOFs)
        # executes once per consumer. |langs|² rows, aggregate-sized.
        .localCheckpoint(eager=False)
    )
    totals = cells.groupBy("label_lang").agg(F.sum("n_docs").alias("__tot"))
    return (
        cells.join(F.broadcast(totals), "label_lang")
        .select(
            "label_lang", "pred_lang", "n_docs",
            F.round(F.col("n_docs") / F.col("__tot"), round_to)
            .alias("share"),
            (F.col("label_lang") == F.col("pred_lang")).alias("is_match"),
        )
    )
