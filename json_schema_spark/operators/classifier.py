"""fastText-style hashed-ngram linear quality classifier (inference).

CCNet / RefinedWeb / FineWeb pipelines gate web documents with a small
linear classifier over hashed bag-of-ngram features (Joulin et al.
2017, "Bag of Tricks for Efficient Text Classification"): every word
unigram/bigram hashes into a fixed feature space, the document score
is the mean of the feature weights (fastText mean pooling), and a
sigmoid turns it into a keep/drop probability.

Reference scope note: the reference engine (fisxoj/json-schema) stops
at per-document keyword validation; this is a §2.8 training-pipeline
extension.

Scale shape (the 100 TB posture): inference is ONE projection of pure
per-row array expressions — tokenize once, hash each gram to its
bucket, fold the weights in a single linear ``aggregate`` — zero
shuffle, zero join, zero Python, fully inside whole-stage codegen.
Weights enter either as a caller-supplied bounded map (a trained
model, <= n_buckets entries, inlined as a literal map the same way a
broadcast dim would ship) or as the default md5-derived placeholder
(deterministic "untrained" weights exercising the identical plan; the
md5 derivation keeps every score DuckDB-reproducible, same rationale
as operators/lm.py's bucketing).

The O(tokens²) higher-order-function trap (operators/quality.py) DOES
bite here, twice — measured at sf0.1 (5k docs, 536k grams):

* the bigram lambda references ``toks[i-1], toks[i]`` — with ``toks``
  as a raw expression, the whole tokenize subtree re-evaluates per
  element (~9.8 s for the bigram explode alone, vs 0.3 s from a
  materialized token column);
* ``size(grams)`` + ``aggregate(grams, ..)`` in one projection
  evaluates the gram-concat twice (3.66 s vs 2.47 s materialized).

So tokens and grams each get their own projection (the quality.py
rule), and the per-bucket placeholder weight — a pure function of
bucket id — is precomputed driver-side into ONE array literal
(hashlib md5 replicates the JVM conv/cast bit-for-bit; pinned by
tests) instead of an md5+conv chain per gram inside the interpreted
lambda.  Whole rewrite: 27 s -> 2.5 s at sf0.1, sums bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sampling import _bucket
from .textstats import ws_tokens

# md5-hex range for 15 hex chars: weights normalize against 2^60 so
# the placeholder lands uniformly in [-1, 1)
_MD5_SPAN = float(1 << 60)


def _placeholder_weight_py(bucket: int) -> float:
    """Driver-side replica of :func:`_placeholder_weight`, used to
    precompute the whole weight table as one array literal.  Bit-exact
    vs the JVM: ``float(int(hex, 16))`` and conv->cast both round the
    same 60-bit integer to nearest double, then the arithmetic is the
    same IEEE ops (pinned in tests/test_classifier.py)."""
    import hashlib

    h = int(hashlib.md5(f"w#{bucket}".encode()).hexdigest()[:15], 16)
    return float(h) / _MD5_SPAN * 2.0 - 1.0


def _placeholder_weight(bucket: Column) -> Column:
    """Deterministic per-bucket weight in [-1, 1): the md5 of the
    bucket id re-read as a 60-bit integer. Stands in for trained
    weights with the exact same plan shape; DuckDB reproduces it
    verbatim (tests + oracle)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("w#"), bucket.cast("string"))), 1, 15),
        16, 10,
    ).cast("double")
    return h / F.lit(_MD5_SPAN) * F.lit(2.0) - F.lit(1.0)


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
    weights: dict[int, float] | None = None,
    use_bigrams: bool = True,
    gain: float = 12.0,
    seed: int = 7,
    round_to: int = 6,
) -> DataFrame:
    """Score every document with a hashed bag-of-ngrams linear model.

        score(d)        = mean over d's grams of w[bucket(gram)]
        quality_prob(d) = sigmoid(gain * score(d))
        keep(d)         = round(score, round_to) > 0

    Grams are word unigrams (+ bigrams unless disabled); buckets come
    from the engine's md5 bucketing (sampling._bucket, seed'd) so a
    SQL oracle reproduces every score. ``weights`` maps bucket -> w
    for a trained model; absent buckets fall back to the placeholder
    weight, so a sparse trained model composes with the default.
    Documents with zero grams (empty/whitespace text) emit NULL
    score/prob/keep — no evidence, no verdict (the operators/lm.py
    convention).

    Emits (id, n_grams, score, quality_prob, keep).
    """
    # tokens materialized in their OWN projection: a bigram lambda over
    # a raw tokenize expression re-evaluates the split per element
    # (measured 9.8 s vs 0.3 s at sf0.1 — module docstring)
    tokd = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        ws_tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    toks = F.col("__toks")
    grams = toks
    if use_bigrams:
        bis = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws("\x1f", toks[i - 1], toks[i]),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = F.concat(toks, bis)
    # ...and grams too: size()+aggregate() in one projection would
    # evaluate the concat twice
    gramd = tokd.select("id", grams.alias("__grams"))

    def w_of(gram: Column) -> Column:
        b = _bucket(gram, seed=seed, buckets=n_buckets)
        if n_buckets <= 65536:
            # the placeholder is a pure function of bucket id: ship the
            # whole weight table as ONE array literal (trained weights
            # overlaid) and look up per gram — no md5+conv chain inside
            # the interpreted lambda. hashlib replicates the JVM
            # conv/cast doubles bit-for-bit (pinned by tests).
            table = [
                (weights or {}).get(i, _placeholder_weight_py(i))
                for i in range(n_buckets)
            ]
            return F.element_at(F.lit(table), (b + F.lit(1)).cast("int"))
        placeholder = _placeholder_weight(b)
        if not weights:
            return placeholder
        trained = F.create_map(
            *[F.lit(x) for kv in weights.items() for x in kv])
        return F.coalesce(trained[b], placeholder)

    ga = F.col("__grams")
    out = gramd.select(
        "id",
        F.size(ga).alias("n_grams"),
        # try_divide: zero grams (blank text) -> NULL verdict, not an
        # ANSI divide-by-zero error
        F.try_divide(
            F.aggregate(ga, F.lit(0.0), lambda acc, g: acc + w_of(g)),
            F.size(ga),
        ).alias("__raw"),
    )
    score = F.round(F.col("__raw"), round_to)
    return out.select(
        "id",
        "n_grams",
        score.alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(gain) * F.col("__raw"))),
                round_to).alias("quality_prob"),
        (score > 0).alias("keep"),
    )


def calibration_sweep(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
    round_to: int = 6,
) -> DataFrame:
    """Classifier threshold-calibration sweep: confusion counts and
    precision/recall/F1 at every threshold in one pass — the report
    that turns a quality-classifier score column into an operating
    point (keep-rate vs purity) before gating a corpus with it.

    Predicted positive at threshold t means ``score >= t``.  Emits
    (threshold, tp, fp, fn, tn, precision, recall, f1); precision is
    NULL when nothing is predicted positive, recall NULL when there
    are no positives, F1 NULL when either is (CASE-mirrored in the
    DuckDB oracle — never a divide-by-zero).

    Scale shape: the corpus-scale work is ONE narrow (score, label)
    projection followed by a partial-aggregable groupBy; the
    grid_index lambda (idx = |{t in grid: t <= score}|) runs on the
    bounded distinct-score histogram, never the corpus, and the
    per-threshold suffix sums run on the even smaller (grid_index,
    label) rollup crossed with the bounded grid.

    The projection gets a LAZY localCheckpoint barrier before the
    groupBy (the pipeline_web_curation precedent).  Measured at sf0.1
    over the fastText scorer: evaluating that scorer's fold
    expression AS AN AGGREGATE GROUPING KEY runs ~5x slower than the
    identical expression in a plain projection (16.3 s vs 3.0 s
    end-to-end) — higher-order folds are interpreted-fallback
    expressions, and the aggregate's grouping-key path makes the
    fallback dramatically worse.  A repartition between projection
    and groupBy does NOT fix it (14.6 s: Catalyst collapses the
    projection through the exchange); only the checkpoint barrier
    pins the evaluation into the projection stage.  Cost of the
    barrier: materializing ~9 bytes/row — linear, narrow, and the
    price of the 5x."""
    spark = scored.sparkSession
    grid = sorted(float(t) for t in thresholds)
    garr = F.lit(grid)
    lab = F.coalesce(F.col(label_col).cast("boolean"), F.lit(False))

    slim = scored.select(
        F.col(score_col).alias("__s"), lab.alias("__lab")
    ).localCheckpoint(eager=False)
    hist = (
        slim.groupBy("__s", "__lab")
        .agg(F.count(F.lit(1)).alias("__h"))
        .where(F.col("__s").isNotNull())
    )
    idx = F.size(F.filter(garr, lambda g: g <= F.col("__s")))
    counts = (
        hist.groupBy(idx.alias("__idx"), F.col("__lab"))
        .agg(F.sum("__h").alias("__n"))
    )
    griddf = spark.createDataFrame(
        [(m + 1, t) for m, t in enumerate(grid)], "m INT, threshold DOUBLE"
    )
    pred_pos = F.col("__idx") >= F.col("m")

    def _n(cond: Column) -> Column:
        return F.sum(F.when(cond, F.col("__n")).otherwise(F.lit(0)))

    per = (
        griddf.crossJoin(counts)
        .groupBy("threshold")
        .agg(
            _n(pred_pos & F.col("__lab")).alias("tp"),
            _n(pred_pos & ~F.col("__lab")).alias("fp"),
            _n(~pred_pos & F.col("__lab")).alias("fn"),
            _n(~pred_pos & ~F.col("__lab")).alias("tn"),
        )
    )
    prec = F.try_divide(F.col("tp"), F.col("tp") + F.col("fp"))
    rec = F.try_divide(F.col("tp"), F.col("tp") + F.col("fn"))
    f1 = F.try_divide(2 * prec * rec, prec + rec)
    return per.select(
        "threshold", "tp", "fp", "fn", "tn",
        F.round(prec, round_to).alias("precision"),
        F.round(rec, round_to).alias("recall"),
        F.round(f1, round_to).alias("f1"),
    )
