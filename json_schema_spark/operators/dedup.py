"""Deduplication operators for web-scale training-data pipelines.

Five dedup families, all expressed Spark-first (built-in higher-order
functions + hash-aggregations; zero Python on the hot path):

* exact       — md5(text) grouping (one salt-able shuffle);
* fingerprint — md5 of normalized text (case/punct/whitespace-folded);
* minhash+LSH — shingle -> k minhashes -> b bands -> bucket join;
  signatures are computed INSIDE a single projection via nested
  higher-order functions (transform/array_min/xxhash64) — no explode,
  no shuffle until the tiny band join;
* simhash     — 64-bit sign-of-weighted-bit-sums; near pairs via
  16-bit band pigeonhole + bit_count(xor) verify;
* n-gram Jaccard — exact set overlap on word n-grams via a self-join
  on shared grams with a stop-gram document-frequency filter (the
  standard candidate-pruning trick: drop grams shared by > max_df docs
  so the join fan-out stays bounded on a skewed corpus).

Embedding-cosine near-dup lives in
:mod:`json_schema_spark.operators.similarity`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _norm_text(col: Column) -> Column:
    """Case-fold, strip non-alphanumerics to spaces, collapse runs."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}]+", " ")
    return F.trim(c)


def _tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def _ngrams_of(toks: Column, n: int) -> Column:
    """n-gram array from an ALREADY-MATERIALIZED token-array column.

    The lambda body re-evaluates every embedded subtree per element
    (higher-order functions are interpreted), so `toks` must be a plain
    column reference from a previous projection — inlining the
    split(trim(...)) here costs ~4x on the whole shingle stage
    (measured at sf0.1; the plan keeps one `split` when the token
    array is its own projection)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def shingle_grams(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    with_size: bool = False,
) -> DataFrame:
    """(doc, [n_grams,] gram) — the shared exploded-shingle stage for
    minhash/jaccard, shaped to keep tokenization out of lambda bodies:
    project tokens, project distinct grams, then size+explode."""
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), _tokens(F.col(text_col)).alias("toks"))
    grams = toks.select(
        "doc", F.array_distinct(_ngrams_of(F.col("toks"), n)).alias("ga"))
    # explode_OUTER on purpose: plain explode makes Catalyst's
    # InferFiltersFromGenerate push a size(ga)>0 filter below these
    # projections with the WHOLE gram expression substituted in
    # (9 split() calls in the plan, ~6x slower measured); ga is never
    # empty (the <n-token branch emits a 1-element array), so outer
    # generates identical rows without the inferred filter.
    if with_size:
        return grams.select("doc", F.size("ga").alias("n_grams"),
                            F.explode_outer("ga").alias("gram"))
    return grams.select("doc", F.explode_outer("ga").alias("gram"))


# ---------------------------------------------------------------------------
# exact + fingerprint
# ---------------------------------------------------------------------------

def text_groups(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = False,
) -> DataFrame:
    """Every group of equal non-null texts, singletons included:
    (text_hash, n_dups, keep_id), or (fp, n_dups, keep_id) on the
    normalized-text fingerprint. keep_id = min id (deterministic
    survivor). One hash-aggregation; hot hash values are bounded by
    group size, partial agg handles them map-side."""
    text = F.col(text_col)
    key, hashed = ("fp", F.md5(_norm_text(text))) if normalized \
        else ("text_hash", F.md5(text))
    return (
        df.where(text.isNotNull())
        .select(hashed.alias(key), F.col(id_col))
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dup groups: (text_hash, n_dups, keep_id) with n_dups > 1."""
    return text_groups(df, id_col, text_col).where(F.col("n_dups") > 1)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _gram_hash(gram: Column, i: int, how: str) -> Column:
    """Seeded 64-bit gram hash. 'xxhash64' is the fast path; 'md5'
    derives 60 bits from the md5 hex prefix — slower, but computable
    verbatim in DuckDB for oracle cross-checks."""
    if how == "xxhash64":
        return F.xxhash64(gram, F.lit(i))
    return F.conv(
        F.substring(F.md5(F.concat(gram, F.lit(f":{i}"))), 1, 15), 16, 10
    ).cast("long")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc, sig array<long>) via explode + ONE hash-aggregation with k
    partial-aggregable mins — the textbook distributed minhash: the
    shuffle carries only n_docs x k longs after map-side combine, never
    the shingles themselves.

    The xxhash64 fast path uses DOUBLE HASHING (h_i = h1 + i*h2): 2
    string hashes per gram instead of k seeded ones — the standard
    min-wise-family trick (cf. Kirsch & Mitzenmacher) and ~10x less
    per-gram CPU at k=64.  h1/h2 are masked to 32 bits (h2 forced odd)
    so h_i stays far below 2^63 — ANSI mode would throw on bigint
    wraparound; a 32-bit per-seed universe keeps within-doc collision
    odds ~n^2/2^33, negligible for LSH estimation.  The 'md5' path
    keeps per-seed hashing so the DuckDB oracle reproduces it verbatim.
    """
    shingled = shingle_grams(df, id_col, text_col, n)
    if hash_fn == "xxhash64":
        mask = F.lit((1 << 32) - 1)
        shingled = shingled.select(
            "doc",
            F.xxhash64(F.col("gram"), F.lit(0)).bitwiseAND(mask).alias("h1"),
            F.xxhash64(F.col("gram"), F.lit(1)).bitwiseAND(mask)
            .bitwiseOR(F.lit(1)).alias("h2"),
        )
        aggs = [
            F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"h{i}")
            for i in range(k)
        ]
    else:
        aggs = [
            F.min(_gram_hash(F.col("gram"), i, hash_fn)).alias(f"h{i}")
            for i in range(k)
        ]
    return shingled.groupBy("doc").agg(*aggs).select(
        "doc", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("sig")
    )


def band_buckets(sig_df: DataFrame, k: int, bands: int) -> DataFrame:
    """Explode a (doc, sig) signature frame into LSH band buckets:
    (doc, sig, band, bucket) with bucket = xxhash64 of the band's
    signature slice (k/bands rows per band).  Shared by the batch
    candidate join (:func:`minhash_candidates`) and the cross-snapshot
    bucket ledger (operators/incremental_dedup.py)."""
    assert k % bands == 0
    rows = k // bands
    return sig_df.select(
        "doc", "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                        ),
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc", "sig", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def minhash_candidates(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, k: int = 64, bands: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) with the estimated Jaccard
    (= matching signature fraction).

    Plan shape at scale: signature projection (narrow) -> explode to
    b rows/doc -> shuffle on (band, band_hash) — the ONLY wide op —
    -> within-bucket self-join. Bucket sizes are the skew knob; a hot
    bucket means near-identical docs, which is exactly the signal —
    but an m-doc bucket fans out m^2/2 pairs, and one boilerplate
    cluster (cookie banners, template pages) can own a straggler task
    for hours at web scale. ``max_bucket`` caps that: per-(band,bucket)
    sizes come from one narrow combinable groupBy, the (few, hot)
    oversized buckets broadcast into a left_anti join, and the
    self-join's per-task fan-out is bounded by bands * max_bucket^2/2.
    Recall note: docs inside a dropped bucket can still pair through
    their other bands; a cluster hot in EVERY band is near-identical
    boilerplate — exactly what exact/prefix dedup already catches
    upstream, and what connected-components grouping would collapse to
    one survivor anyway.
    """
    assert k % bands == 0
    sig = minhash_signatures(df, id_col, text_col, n, k)
    # NO reuse barrier here, deliberately (r6): a lazy localCheckpoint
    # on `banded` was tried and REVERTED — it halves the signature
    # compute at small scale (where the planner broadcasts one side of
    # the self-join and exchange reuse cannot fire), but the
    # checkpointed (doc, sig[k], band, bucket) rows store deserialized
    # in-heap (~bands x k x 8 B/doc amplified 3-5x by object headers)
    # and OOM'd the 1M-doc skew soak in an 8 GB heap. At scale both
    # sides plan as shuffle exchanges over the identical subtree and
    # Spark reuses one exchange, so the signature pass already runs
    # once where it matters.
    banded = band_buckets(sig, k, bands)

    if max_bucket is not None:
        # Bucket sizes need the signatures, so the size scan is one
        # unavoidable extra pass (map-side combinable, shuffles only
        # (band,bucket,count)). Everything after it is optional: the
        # hot set is aggregate-sized BY CONSTRUCTION (buckets over the
        # cap are few near-identical clusters), so materialize it on
        # the driver once and (a) SKIP the anti-join entirely when no
        # bucket exceeds the cap — the common clean-corpus case the r3
        # watch item flagged — else (b) rebuild the broadcast side from
        # the collected rows so the anti-join never recomputes the
        # signature lineage. (A window-count inside the join exchange
        # was tried and REGRESSED the hostile soak 1.5x: the hot bucket
        # becomes one giant sort partition, on both join sides.)
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .where(F.col("__bsz") > max_bucket)
            .select("band", "bucket")
            .limit(1_048_576)  # bound the driver; beyond this the
            .collect()         # corpus is all boilerplate anyway
        )
        if hot:
            spark = banded.sparkSession
            hot_df = spark.createDataFrame(hot, "band int, bucket long")
            banded = banded.join(F.broadcast(hot_df),
                                 ["band", "bucket"], "left_anti")

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.bucket") == F.col("b.bucket"),
                      F.col("a.doc") < F.col("b.doc")])
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            (
                F.aggregate(
                    F.zip_with(F.col("a.sig"), F.col("b.sig"),
                               lambda x, y: (x == y).cast("int")),
                    F.lit(0), lambda acc, v: acc + v,
                ) / F.lit(float(k))
            ).alias("est_jaccard"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )
    return pairs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(col_name: str, token_hash: str = "xxhash64",
              bits: int = 64) -> Column:
    """SimHash of the token multiset: bit b of the result is the sign
    of sum over tokens of (bit b of hash(token) ? +1 : -1).

    Built as ONE SQL higher-order expression (a single aggregate whose
    accumulator is the array of bit-sums) because variable shift
    amounts need the SQL surface — the Python `shiftright` wrapper only
    accepts literal ints. Still pure JVM codegen; returns BIGINT.

    ``token_hash='md5'`` derives a 60-bit hash from the md5 hex prefix
    (pass bits=60): slower than xxhash64, but computable verbatim in
    DuckDB so the whole bit-sum/sign machinery is oracle-checkable.
    """
    if token_hash == "xxhash64":
        th = "xxhash64(t)"
    else:
        th = "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
    return F.expr(f"""
        aggregate(
          zip_with(
            aggregate(
              transform(split(trim({col_name}), '\\\\s+'), t -> {th}),
              array_repeat(0, {bits}),
              (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                            (a, b) -> a + CASE WHEN (h >> b) & 1 = 1
                                           THEN 1 ELSE -1 END)
            ),
            sequence(0, {bits - 1}),
            (s, b) -> CASE WHEN s > 0 THEN shiftleft(1L, b) ELSE 0L END
          ),
          0L, (acc, v) -> acc + v)
    """)


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Pigeonhole banding: split 64 bits into ``max_hamming + 1`` bands —
    any pair within the hamming budget differs in at most max_hamming
    bands, so it shares at least one exact band (guaranteed recall for
    ANY max_hamming, not just the default 3 -> 4 x 16-bit). Join on
    (band, band_value), verify with bit_count(xor)."""
    if not 0 <= max_hamming <= 31:
        raise ValueError("max_hamming must be in [0, 31] (need >=2-bit bands)")
    n_bands = max_hamming + 1
    width = 64 // n_bands  # last band absorbs the remainder bits
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"), simhash64(text_col).alias("sh"),
    )
    def _band_val(b: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("sh"), b * width)
        if b < n_bands - 1:
            shifted = shifted.bitwiseAND(F.lit((1 << width) - 1))
        return shifted
    banded = base.select(
        "doc", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), _band_val(b).alias("bval"))
            for b in range(n_bands)
        ])).alias("bb"),
    ).select("doc", "sh", "bb.band", "bb.bval")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.bval") == F.col("b.bval"),
                      F.col("a.doc") < F.col("b.doc")])
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------------

def _gram_pair_intersections(
    df: DataFrame, id_col: str, text_col: str,
    n: int, max_df: int | None,
) -> DataFrame:
    """Shared pair stage for the exact set-similarity family:
    (doc_a, doc_b, n_inter, n_a, n_b) for every document pair sharing
    at least one (non-stop) n-gram.  ``max_df`` drops grams present in
    more than that many documents before the self-join (stop-gram
    pruning): on a skewed web corpus boilerplate grams would otherwise
    dominate the join fan-out."""
    # set size is carried WITH each gram row (computed in the same
    # projection, before the explode) — joining a separate per-doc
    # sizes aggregate back in re-scanned the source twice more.
    grams = shingle_grams(df, id_col, text_col, n, with_size=True)
    if max_df is not None:
        hot = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df_cnt")) \
            .where(F.col("df_cnt") > max_df).select("gram")
        grams = grams.join(F.broadcast(hot), "gram", "left_anti")
        # recompute per-doc set sizes over the SURVIVING grams so that
        # n_a/n_b and n_inter live in the same (post-pruning) gram
        # universe — pre-pruning sizes biased jaccard low.  One extra
        # aggregate-sized shuffle on doc, only on the pruned path.
        grams = grams.select(
            "doc", "gram",
            F.count(F.lit(1)).over(Window.partitionBy("doc")).alias("n_grams"),
        )

    g1, g2 = grams.alias("g1"), grams.alias("g2")
    # both join inputs shuffle on the same key and are identical
    # subplans -> Spark reuses one exchange for the other side.
    return (
        g1.join(g2, on=[F.col("g1.gram") == F.col("g2.gram"),
                        F.col("g1.doc") < F.col("g2.doc")])
        .groupBy(F.col("g1.doc").alias("doc_a"), F.col("g2.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"),
             F.first(F.col("g1.n_grams")).alias("n_a"),
             F.first(F.col("g2.n_grams")).alias("n_b"))
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, threshold: float = 0.5, max_df: int | None = 1000,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for every pair sharing at
    least one (non-stop) gram: (doc_a, doc_b, jaccard).

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) — integer counts, so the
    single double division is bit-identical across engines.
    Pair stage shared with :func:`ngram_containment_pairs`.
    """
    inter = _gram_pair_intersections(df, id_col, text_col, n, max_df)
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("n_inter") /
                    (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, threshold: float = 0.8, max_df: int | None = 1000,
) -> DataFrame:
    """Exact word-n-gram CONTAINMENT (Broder): the asymmetric
    near-dup signal symmetric Jaccard misses — a short document pasted
    inside a much longer one scores Jaccard ≈ |A|/|B| (tiny) but
    containment ≈ 1.  Thresholds on
    containment = |A ∩ B| / min(|A|, |B|) (the smaller side's coverage)
    and reports both directed fractions so callers can tell which side
    is the contained one: (doc_a, doc_b, n_inter, n_a, n_b,
    containment, frac_a_in_b, frac_b_in_a).

    Same pair stage, pruning rule, and scale shape as
    :func:`ngram_jaccard_pairs` (shared `_gram_pair_intersections`);
    integer-count divisions rounded at 6 are bit-identical across
    engines.
    """
    inter = _gram_pair_intersections(df, id_col, text_col, n, max_df)
    return (
        inter.withColumn(
            "containment",
            F.round(F.col("n_inter")
                    / F.least(F.col("n_a"), F.col("n_b")), 6))
        .where(F.col("containment") >= threshold)
        .select(
            "doc_a", "doc_b", "n_inter", "n_a", "n_b", "containment",
            F.round(F.col("n_inter") / F.col("n_a"), 6)
            .alias("frac_a_in_b"),
            F.round(F.col("n_inter") / F.col("n_b"), 6)
            .alias("frac_b_in_a"),
        )
    )


# ---------------------------------------------------------------------------
# connected components: near-dup pairs -> dedup groups
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Collapse a pair stream (from minhash/simhash/jaccard candidates)
    into dedup GROUPS: (node, grp) where grp = the smallest doc id
    reachable through the near-dup graph — the canonical survivor.

    Min-label propagation: each round every node takes the min of its
    own label and its neighbors' labels; converges in O(graph diameter)
    rounds (near-dup clusters are shallow — a handful of rounds).  Each
    round is one join + one aggregate on the EDGE list, all
    partition-parallel; `localCheckpoint` truncates the lineage so the
    plan does not grow with iterations (the driver-loop here is over
    ROUNDS, never over rows).

    Job-count shape (r6, guide §2.4): every checkpoint is LAZY
    (``eager=False``) so the round's convergence action — the label-sum
    collect — materializes it in the SAME job; one job per round
    instead of two, with the expressions (and therefore the labels)
    byte-identical to the eager version.  AQE is scoped OFF for the
    label loop only: the loop's partitioning is already hand-sized
    from the measured edge count (``p`` below), so adaptive
    re-planning has nothing left to adapt — it only turns every
    exchange into its own materialization job (measured at sf0.1:
    ~4-6 driver-side jobs per round for single-task stages).  The
    corpus-scale pair generation upstream executes under the edge
    count BEFORE the switch, so it keeps AQE skew handling; labels
    are integer mins, so loop results are exact regardless of
    partitioning.
    """
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))) \
        .distinct().localCheckpoint(eager=False)
    # size the loop's parallelism to the GRAPH, not the session default:
    # near-dup graphs are usually tiny relative to the corpus, and at 32
    # shuffle partitions the per-round fixed task overhead dominates.
    # (count() doubles as the lazy checkpoint's materializer — and runs
    # the upstream pair generation with AQE still ON.)
    n_edges = edges.count()
    spark = pairs.sparkSession
    sp_before = spark.conf.get("spark.sql.shuffle.partitions")
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    # parallelism sized to the GRAPH and capped by the session's
    # configured parallelism (not a local-mode constant): with AQE off
    # inside the loop, every join/groupBy shuffle runs at this width,
    # so it must be the hand-derived width AQE would have coalesced to
    p = max(1, min(int(sp_before), n_edges // 100_000))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    try:
        return _cc_label_loop(edges, p, max_iter)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.shuffle.partitions", sp_before)


def _cc_label_loop(edges: DataFrame, p: int, max_iter: int) -> DataFrame:
    """The min-label propagation loop of :func:`connected_components`
    (split out so the AQE scope above stays a try/finally)."""
    edges = edges.repartition(p, "b").localCheckpoint(eager=False)
    # round-0 fused into the init: label = min(self, direct neighbors)
    labels = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.first("a")).alias("label"))
        .repartition(p).localCheckpoint(eager=False)
    )
    # labels only ever DECREASE, so for NUMERIC ids sum(label) strictly
    # decreases while anything changes — convergence is one cheap
    # aggregate per round.  Non-numeric ids (string urls, hashes) fall
    # back to the type-agnostic changed-rows join (a decimal cast of a
    # string label is NULL, which would fake instant convergence).
    import pyspark.sql.types as _T
    # integral/decimal ONLY: a float/double label casts to decimal(38,0)
    # with rounding (2.6 -> 3), so a real decrease can leave the rounded
    # sum unchanged and the loop would declare convergence early;
    # fractional ids take the exact changed-rows join instead
    numeric_ids = isinstance(
        labels.schema["label"].dataType,
        (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType,
         _T.DecimalType))

    def _sum(lbl_df):
        return lbl_df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _sum(labels) if numeric_ids else None

    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.select(F.col("node").alias("b"),
                                     F.col("label").alias("blabel")), "b")
            .groupBy("a").agg(F.min("blabel").alias("nlabel"))
        )
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                labels["node"],
                F.least(labels["label"],
                        F.coalesce(nbr_min["nlabel"], labels["label"])).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        if numeric_ids:
            cur_sum = _sum(new_labels)
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                .where(F.col("n.label") != F.col("o.label"))
                .count() == 0
            )
        labels = new_labels
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "— raise max_iter; a component's diameter exceeds the round "
            "budget and the current labels are NOT canonical")

    return labels.select(F.col("node"), F.col("label").alias("grp"))


def minhash_fidelity(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, k: int = 8, bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """LSH-configuration audit: for every candidate pair the band
    bucketing surfaces, compare the SIGNATURE-estimated Jaccard (the
    fraction of agreeing minhash components — the unbiased estimator
    banding's s-curve is built on) against the EXACT shingle Jaccard.
    Emits (doc_a, doc_b, est_jaccard, exact_jaccard, abs_err) — the
    evidence for choosing (k, bands) before trusting them at scale.

    Audit contract at 100 TB: run on a deterministic SAMPLE
    (operators/sampling.py) sized to the exact-pair budget — the exact
    side is the same stop-gram-pruned self-join as
    ``ngram_jaccard_pairs`` and exists precisely because LSH replaces
    it; the audit's job is to justify that replacement on a slice,
    not to run exact Jaccard on the corpus.  Candidate pairs that
    share a bucket without sharing any shingle (possible only via
    bucket-hash collision) surface with exact_jaccard 0.0 — the audit
    must SEE false candidates, not drop them.

    hash_fn='md5' keeps every signature component
    DuckDB-reproducible; the oracle joins bands on the signature
    SLICE STRING (bucket equality modulo xxhash64 collisions — the
    incremental-minhash oracle precedent)."""
    sigs = minhash_signatures(df, id_col, text_col, n=n, k=k,
                              hash_fn=hash_fn)
    bb = band_buckets(sigs, k, bands)
    a, b = bb.alias("a"), bb.alias("b")
    cand = (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.bucket") == F.col("b.bucket"),
                      F.col("a.doc") < F.col("b.doc")])
        .select(F.col("a.doc").alias("doc_a"),
                F.col("b.doc").alias("doc_b"),
                F.col("a.sig").alias("__sa"),
                F.col("b.sig").alias("__sb"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    agree = F.size(F.filter(
        F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
        lambda v: v))
    est = F.round(agree / F.lit(float(k)), 6)
    exact = ngram_jaccard_pairs(df, id_col, text_col, n=n,
                                threshold=0.0, max_df=None) \
        .select("doc_a", "doc_b", "jaccard")
    out = (
        cand.join(exact, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a", "doc_b",
            est.alias("est_jaccard"),
            F.coalesce("jaccard", F.lit(0.0)).alias("exact_jaccard"),
        )
    )
    return out.withColumn(
        "abs_err",
        F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6))
