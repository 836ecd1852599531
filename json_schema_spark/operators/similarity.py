"""Similarity search over embedding columns (array<float>).

Two paths, same cosine core (all built-in higher-order functions —
`zip_with` products, `aggregate` sum — JVM-side, no UDF):

* **brute force** — broadcast the (small) query set, crossJoin, rank
  with a per-query window. Exact; the baseline every ANN variant is
  measured against. Scales in corpus size (narrow scan + broadcast),
  not in query count.
* **LSH-bucketed** — random-hyperplane signatures (deterministic
  planes derived from a seed via md5, generated driver-side as
  literals) bucket the corpus once; each query probes its own bucket
  plus all 1-bit-flip neighbors (multiprobe) so recall degrades
  gracefully. The corpus-side shuffle is ONE groupBy-free repartition
  by bucket; at 10^12 rows this is the only shape that avoids the
  full scan per query.
"""

from __future__ import annotations

import hashlib
import struct

# module-global so pandas_udf type hints resolve under
# `from __future__ import annotations` (string annotations are looked
# up in module globals at decoration time)
import pandas as pd  # noqa: F401

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float arrays (cast each
    product to double before summing so engines agree)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def ann_bruteforce_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    qid_col: str = "vec_id", qvec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query:
    (query_id, neighbor_id, cos_sim, rank). Query side is broadcast —
    the corpus never shuffles; ranking uses one window keyed by query.
    Ties broken by neighbor id for determinism."""
    q = F.broadcast(
        queries.select(F.col(qid_col).alias("query_id"),
                       F.col(qvec_col).alias("qvec"),
                       l2norm(F.col(qvec_col)).alias("qnorm"))
    )
    # norms once per row BELOW the join (see embedding_near_duplicates_exact)
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec"),
                      l2norm(F.col(vec_col)).alias("cnorm"))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(dot(F.col("qvec"), F.col("cvec"))
                    / (F.col("qnorm") * F.col("cnorm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5(seed, p, d) —
    reproducible across sessions/partitions with no RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            (u,) = struct.unpack("<Q", h[:8])
            row.append((u / 2**64) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-projection bucket id (int) for a vector column."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        proj = dot(vec, lit_plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_buckets_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Arrow-batched bucket computation for ALL tables at once: one
    numpy GEMM (batch x dim) @ (dim x tables*planes) replaces
    tables*planes interpreted higher-order dot expressions per row —
    the measured dense-linear-algebra rule (block-pair GEMM beats
    Column-expression dots ~5x; at 12 tables x 6 planes the Column
    form was ~8 s for a 2k corpus, this is sub-second). Table id is
    folded into the high bits so tables never collide and 1-bit
    multiprobe flips (low bits) stay within a table."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.array([
        plane
        for t in range(n_tables)
        for plane in _hyperplanes(dim, n_planes, seed + 7919 * t)
    ])  # (n_tables*n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    offsets = (np.arange(n_tables, dtype=np.int64) << n_planes)

    @pandas_udf("array<long>")
    def _buckets(col: pd.Series) -> pd.Series:
        # NULL vectors -> NULL bucket array (explode_outer then emits
        # one NULL-bucket row, which no equi-join ever matches)
        mask = col.notna().to_numpy()
        vals: list = [None] * len(col)
        if mask.any():
            X = np.vstack(col[mask].to_numpy()).astype(np.float64)
            proj = (X @ P.T) > 0                                # (n, T*b)
            B = (proj.reshape(len(X), n_tables, n_planes) @ weights) + offsets
            for i, b in zip(np.flatnonzero(mask), B):
                vals[i] = b
        return pd.Series(vals, dtype=object)

    return _buckets


def ann_lsh_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 8, dim: int = 64, seed: int = 42,
    multiprobe: bool = True, n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an LSH
    bucket with the query (plus 1-bit-flip neighbor buckets when
    ``multiprobe``) in ANY of ``n_tables`` independent hash tables —
    OR-amplification: one table's hit probability per plane is
    1 - angle/pi, so recall for a table is ~p^n_planes (plus the
    multiprobe terms) and across L tables 1 - (1-P)^L. More tables buy
    recall linearly in cost; more planes cut per-table candidates
    exponentially — tune (n_planes, n_tables) to the corpus density.

    Scale path: corpus bucketed once per table (narrow projection,
    table id folded into the bucket key so tables never collide), join
    on bucket instead of crossJoin — per-query candidate work is
    n_tables * |corpus| / 2^n_planes * (1 + n_planes multiprobes).
    """
    buckets = lsh_buckets_udf(dim, n_planes, n_tables, seed)
    # two-step: materialize the bucket array FIRST (one Arrow GEMM for
    # all tables), then explode_outer a plain column ref —
    # InferFiltersFromGenerate would otherwise clone the generator
    # expression into a pushed-down filter (measured 6x on shingles)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        l2norm(F.col(vec_col)).alias("cnorm"),
        buckets(F.col(vec_col)).alias("buckets"),
    ).select("neighbor_id", "cvec", "cnorm",
             F.explode_outer("buckets").alias("bucket"))
    qe = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        l2norm(F.col(vec_col)).alias("qnorm"),
        buckets(F.col(vec_col)).alias("buckets"),
    ).select("query_id", "qvec", "qnorm",
             F.explode_outer("buckets").alias("qb"))
    # 1-bit flips touch only the low n_planes bits — the table id in
    # the high bits survives, so probes stay within their table
    probes = [F.col("qb")] + (
        [F.col("qb").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        if multiprobe else [])
    q = F.broadcast(
        qe.select("query_id", "qvec", "qnorm",
                  F.explode(F.array(*probes)).alias("bucket"))
    )

    scored = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(dot(F.col("qvec"), F.col("cvec"))
                        / (F.col("qnorm") * F.col("cnorm")), 6).alias("cos_sim"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_duplicates(
    df: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 8, dim: int = 64, seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cos >= threshold)
    via LSH bucketing + multiprobe: candidate pairs only within a
    bucket or across 1-bit-adjacent buckets, then exact-cosine verify.
    High-cosine pairs land in the same/adjacent buckets w.h.p."""
    planes = _hyperplanes(dim, n_planes, seed)
    base = df.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"),
        l2norm(F.col(vec_col)).alias("norm"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    # lazy reuse barrier (r6, guide §7.2): base feeds the multiprobe
    # side AND the build side of the bucket join — without it the
    # norm + n_planes-dot-product bucket projection runs twice over
    # the corpus. Vector-width rows, linear.
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    probed = base.select(
        "doc", "vec", "norm",
        F.explode(F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )).alias("probe"),
    )
    a = probed.alias("a")
    b = base.select(F.col("doc").alias("doc_b"), F.col("vec").alias("vec_b"),
                    F.col("norm").alias("norm_b"),
                    F.col("bucket").alias("probe")).alias("b")
    return (
        a.join(b, on=["probe"])
        .where(F.col("a.doc") < F.col("doc_b"))
        .select(F.col("a.doc").alias("doc_a"), F.col("doc_b"),
                F.round(dot(F.col("a.vec"), F.col("vec_b"))
                        / (F.col("a.norm") * F.col("norm_b")), 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


def embedding_near_duplicates_gemm(
    df: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via block-pair GEMM.

    The dense-linear-algebra case is the one place built-in Columns
    lose: per-pair interpreted dot products cost ~14 us while BLAS does
    the same work in ~1 ns/multiply. So: hash vectors into n_blocks,
    replicate each row into every block-pair group it belongs to
    (explode x n_blocks — the standard block outer-product layout),
    then ONE applyInPandas per block pair computes A_hat @ B_hat.T with
    numpy and emits only pairs above threshold.

    Scale notes: shuffle volume = n_rows x n_blocks; choose n_blocks so
    two blocks of vectors fit executor memory (n_blocks grows ~sqrt of
    corpus size). Group count = n_blocks*(n_blocks+1)/2 tasks.
    """
    import numpy as np
    import pandas as pd

    tagged = df.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # row of block k participates in every pair {min(k,o), max(k,o)}
    exploded = tagged.select(
        "doc", "vec", "blk",
        F.explode(F.array(*[F.lit(o) for o in range(n_blocks)])).alias("other"),
    ).select(
        "doc", "vec", "blk",
        (F.least("blk", "other") * n_blocks + F.greatest("blk", "other")).alias("grp"),
        F.least("blk", "other").alias("lo"),
    )

    def block_pair(key, pdf: pd.DataFrame) -> pd.DataFrame:
        lo = int(pdf["lo"].iloc[0])
        a_side = pdf[pdf["blk"] == lo]
        hi_mask = pdf["blk"] != lo
        same_block = not hi_mask.any()
        b_side = a_side if same_block else pdf[hi_mask].drop_duplicates("doc")
        a_side = a_side.drop_duplicates("doc")
        if len(a_side) == 0 or len(b_side) == 0:
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cos_sim": []}).astype(
                {"doc_a": "int64", "doc_b": "int64", "cos_sim": "float64"})
        A = np.stack(a_side["vec"].to_numpy()).astype(np.float64)
        B = np.stack(b_side["vec"].to_numpy()).astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        sims = np.round(A @ B.T, 6)
        ia, ib = np.nonzero(sims >= threshold)
        doc_a = a_side["doc"].to_numpy()[ia]
        doc_b = b_side["doc"].to_numpy()[ib]
        # canonical orientation (min, max): cross-block pairs arrive in
        # arbitrary id order; same-block pairs arrive twice and the
        # final distinct() collapses them. Diagonal drops here.
        keep = doc_a != doc_b
        lo_doc = np.minimum(doc_a, doc_b)[keep]
        hi_doc = np.maximum(doc_a, doc_b)[keep]
        return pd.DataFrame({
            "doc_a": lo_doc, "doc_b": hi_doc,
            "cos_sim": sims[ia, ib][keep],
        })

    return exploded.groupBy("grp").applyInPandas(
        block_pair, "doc_a long, doc_b long, cos_sim double",
    ).distinct()


def embedding_near_duplicates_exact(
    df: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force O(n^2) verify path (oracle baseline; the LSH path
    above is the scale path).

    Norms are computed ONCE PER ROW in the join children — never put
    `cosine()` on a join output: higher-order lambdas are interpreted
    (not codegen'd), and inlining norm computation into the pair
    expression made this 9x slower (norms re-evaluated per pair).
    """
    a = df.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("vec_a"),
                  l2norm(F.col(vec_col)).alias("norm_a"))
    b = df.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vec_b"),
                  l2norm(F.col(vec_col)).alias("norm_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probed lists
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    corpus: DataFrame, vec_col: str = "embedding",
    n_lists: int = 16, sample: int = 4096, iters: int = 10, seed: int = 42,
) -> list[list[float]]:
    """Driver-side k-means on a bounded sample -> n_lists centroids.

    The training set is CAPPED (deterministic, seeded sample) so this
    stays O(sample x dim) on the driver no matter the corpus size —
    the standard IVF recipe: the coarse quantizer never needs more
    than a few thousand points to place list boundaries.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col).alias("v"))
        .where(F.col("v").isNotNull())
        .orderBy(F.xxhash64(F.col("v").cast("string"), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_lists, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cent.T                       # cosine on normalized rows
        assign = sims.argmax(axis=1)
        for j in range(len(cent)):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                cent[j] = m / max(np.linalg.norm(m), 1e-12)
    return [list(map(float, c)) for c in cent]


def _assign_lists(df: DataFrame, vec_col: str, centroids: list[list[float]],
                  n_probe: int) -> DataFrame:
    """Add `list_id` (array of the n_probe nearest centroid ids) via a
    vectorized Arrow batch (numpy GEMM against the broadcast centroid
    matrix — the dense-algebra escape hatch; a per-centroid Column
    expression would be an interpreted lambda per element)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.float64).T  # dim x n_lists

    @pandas_udf("array<int>")
    def nearest_lists(vs: pd.Series) -> pd.Series:
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ cmat
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return df.withColumn("__lists", nearest_lists(F.col(vec_col)))


def ann_ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    n_lists: int = 16, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    centroids: list[list[float]] | None = None, seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in their single nearest
    list; each query probes its n_probe nearest lists and ranks only
    those lists' members.

    Scale shape: the corpus shuffles ONCE on list_id (16..65k lists),
    the query side (small) broadcasts after exploding its probes, and
    the scan per query touches ~n_probe/n_lists of the corpus — the
    IVF trade dial. Recall is measured against ann_bruteforce_topk in
    the tests.
    """
    cents = centroids or train_ivf_centroids(
        corpus, vec_col, n_lists=n_lists, seed=seed)

    c = _assign_lists(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec")),
        "cvec", cents, n_probe=1,
    ).select("neighbor_id", "cvec",
             F.element_at("__lists", 1).alias("list_id"),
             l2norm(F.col("cvec")).alias("cnorm"))

    q = _assign_lists(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec")),
        "qvec", cents, n_probe=n_probe,
    ).select("query_id", "qvec", l2norm(F.col("qvec")).alias("qnorm"),
             F.explode("__lists").alias("list_id"))

    scored = (
        c.join(F.broadcast(q), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(dot(F.col("qvec"), F.col("cvec"))
                    / (F.col("qnorm") * F.col("cnorm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def seeded_unit_centroids(dim: int, n_clusters: int,
                          seed: int = 7) -> list[list[float]]:
    """Deterministic unit-norm Gaussian directions, components rounded
    to 6 decimals so a SQL-literal round trip reproduces the exact
    doubles (the SemDeDup oracle interpolates these into DuckDB).
    Random directions are the fixed-quantizer stand-in for externally
    trained k-means centroids (`train_ivf_centroids` plugs in the same
    way) — at web scale you train the quantizer once on a bounded
    sample and broadcast it, exactly like IVF."""
    import numpy as np

    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_clusters, dim))
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return [[round(float(x), 6) for x in row] for row in c]


def semdedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.7,
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster
    embeddings with a fixed coarse quantizer, then inside each cluster
    mark a document as a semantic duplicate if some other member has
    cosine similarity >= ``threshold`` and precedes it in the keep
    order.  Keep order follows the paper's released recipe — LOWEST
    similarity-to-centroid survives — with the doc id as a
    deterministic tiebreak.

    Emits every row: (id, cluster_id, sim_centroid, is_dup).

    Scale shape: both stages are Arrow-batched numpy GEMMs — the
    module's measured dense-linear-algebra rule (see lsh_buckets_udf,
    embedding_near_duplicates_gemm: block GEMM beats per-element
    Column expressions because higher-order lambdas are interpreted
    per element).  Assignment is one (batch x dim) @ (dim x k) per
    Arrow batch, zero shuffle; the pair stage shuffles ONCE on
    cluster_id and runs one (m x dim) @ (dim x m) per cluster — the
    paper's own per-cluster O(m^2) shape, with cost bounded because
    the quantizer's cluster count is chosen proportional to corpus
    size (the paper runs 50k clusters on LAION).  A skewed giant
    cluster is the known failure mode — it must fit one task's Arrow
    batch — cap it upstream by re-training the quantizer, not by
    salting (correctness is per-cluster).

    Two slower shapes were measured and replaced at sf0.1 (2000 rows,
    32 clusters, 64 dims): (a) per-centroid literal cosine columns —
    8-10 s of DRIVER planning alone (2048 Literal nodes, duplicated
    by the self-join); (b) a single nested-array literal + transform
    with a JVM self-join on the pair predicate — planning fixed but
    ~8.5 s of interpreted HOF evaluation (the assignment expression
    evaluates once per plan reference, and every candidate pair pays
    an interpreted 64-dim fold).  This GEMM form: ~1.5 s end-to-end,
    identical output.

    Parity note: numpy sums in blocked/SIMD order vs the sequential
    folds in an SQL twin; scores are rounded to ``round_to`` BEFORE
    every argmax/threshold/keep-order comparison in both engines, so
    verdicts only diverge if an unrounded score sits within fp-noise
    (~1e-15) of a rounding boundary — the same tolerance every other
    rounded oracle in this repo accepts.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.float64).T        # dim x k
    cnorm = np.maximum(np.linalg.norm(cmat, axis=0), 1e-12)  # k

    @pandas_udf("struct<cluster_id:int,sim_centroid:double>")
    def assign(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"cluster_id": pd.Series(dtype="int32"),
                                 "sim_centroid": pd.Series(dtype="float64")})
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        xn = np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = np.round((x / xn) @ (cmat / cnorm), round_to)
        # np.argmax returns the FIRST max: lowest cluster id on ties,
        # matching the SQL twin's (sim DESC, cluster ASC) order
        cl = np.argmax(sims, axis=1)
        return pd.DataFrame({
            "cluster_id": cl.astype("int32"),
            "sim_centroid": sims[np.arange(len(x)), cl],
        })

    assigned = corpus.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v"),
        assign(F.col(vec_col)).alias("__a"),
    ).select("id", "__v", "__a.cluster_id", "__a.sim_centroid")

    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (f"id {id_type}, cluster_id int, "
                  "sim_centroid double, is_dup boolean")

    def mark(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sim_centroid", "id"]).reset_index(drop=True)
        x = np.asarray([np.asarray(v, dtype=np.float64)
                        for v in pdf["__v"]])
        xn = np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        s = np.round((x / xn) @ (x / xn).T, round_to)
        # row i precedes column j in keep order (i < j after the sort):
        # j is a duplicate iff some earlier member clears the threshold
        is_dup = np.triu(s >= threshold, k=1).any(axis=0)
        return pd.DataFrame({
            "id": pdf["id"], "cluster_id": pdf["cluster_id"],
            "sim_centroid": pdf["sim_centroid"], "is_dup": is_dup,
        })

    return assigned.groupBy("cluster_id").applyInPandas(mark, out_schema)


def embedding_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    z_cut: float = 3.5,
    exact: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Embedding sanity gate: flag vectors whose L2 norm is a robust
    outlier under the Iglewicz-Hoaglin modified z-score
    (0.6745 * (norm - median) / MAD, cut at ``z_cut``) — the standard
    pre-ANN screen for corrupt/degenerate vectors (zero embeddings,
    overflow artifacts, wrong-scale batches), robust where mean/std
    would be dragged by the very outliers it hunts.

    Returns (id, norm, med_norm, mad_norm, z, is_outlier).  Norms
    round to ``round_to`` BEFORE the medians so both engines take
    medians of identical values; MAD deviations measure from the
    ROUNDED median for the same reason; MAD == 0 (constant norms)
    yields z = 0 and no outliers, defined.

    Scale shape: the norm is one JVM higher-order projection (the
    module's zip_with/aggregate fast path, zero Python); median and
    MAD are TWO single-row aggregates re-entering as broadcasts.
    ``exact=True`` uses Spark's exact median — a single-group sort
    aggregate that funnels all norms through one buffer, fine up to
    ~10^8 rows and required for the DuckDB oracle; at the 10^12
    posture pass ``exact=False`` for percentile_approx (or feed the
    stored KLL-sketch path, operators/tdigest.py) — signal-grade,
    identical plan otherwise.
    """
    med_fn = (F.median if exact
              else (lambda c: F.percentile_approx(c, 0.5, 10_000)))
    vec = F.col(vec_col)
    dot = F.aggregate(
        F.zip_with(vec, vec, lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    norms = (df.where(vec.isNotNull())
             .select(F.col(id_col).alias("id"),
                     F.round(F.sqrt(dot), round_to).alias("norm"))
             # lazy reuse barrier (r6, guide §7.2): norms feeds the
             # median aggregate, the MAD aggregate and the output —
             # without it the higher-order dot-product projection runs
             # once per consumer. (id, norm) = 16 bytes/row.
             .localCheckpoint(eager=False))
    med = norms.agg(F.round(med_fn(F.col("norm")), round_to).alias("med"))
    withmed = norms.crossJoin(F.broadcast(med))
    mad = withmed.agg(
        F.round(med_fn(F.abs(F.col("norm") - F.col("med"))), round_to)
        .alias("mad"))
    z = F.when(F.col("mad") > 0,
               F.round(0.6745 * (F.col("norm") - F.col("med"))
                       / F.col("mad"), round_to)).otherwise(F.lit(0.0))
    return (
        withmed.crossJoin(F.broadcast(mad))
        .select(
            "id", "norm",
            F.col("med").alias("med_norm"),
            F.col("mad").alias("mad_norm"),
            z.alias("z"),
            (F.abs(z) > F.lit(z_cut)).alias("is_outlier"),
        )
    )
