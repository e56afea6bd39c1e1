"""Vector similarity search — kNN, batched kNN, ANN scale path.

Reference: ES script_score cosine kNN with term pre-filter and size=k
(doc_pipeline/services/vector_storage.py:69-100; k default 10,
api/routes/documents.py:121). The engine computes, rather than indexes:
filter → score (pure Catalyst expression) → TakeOrderedAndProject.

Scale path (100 TB): brute force is O(N·d) per query — right answer up
to ~10^8 vectors per query batch when fully codegen'd; beyond that,
`knn_batch_lsh` prunes candidates with random-hyperplane buckets
(driver-seeded, deterministic) before exact re-scoring, trading recall
for a ~bands× reduction in scored pairs. The API stays stable; only the
physical strategy swaps (the engine-side analog of swapping the ES HNSW
index for brute force).
"""

from __future__ import annotations

from data_pipeline2_spark.plans.materialize import materialize, materialize_lazy

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from data_pipeline2_spark.functions.vectors import (
    cosine,
    cosine_to_query,
    dot,
    query_vector_lit,
    with_norm,
)

SCORE_ROUND = 6  # rounding makes double cosine hash-stable across engines


def _score(vec_col: str, qvec_col: str) -> Column:
    """The rounded pairwise cosine of a corpus row and a query row whose
    norms `with_norm` projected as `__vn` and `__qn` before the join."""
    return cosine(vec_col, "__vn", qvec_col, "__qn", SCORE_ROUND).alias("score")


def _knn_scored(
    pairs: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
) -> DataFrame:
    """(corpus, query) pairs, both sides normed by `with_norm` → the
    per-query exact top-k (qid, rank, vec_id, score)."""
    scored = pairs.select(F.col(qid_col), F.col(id_col), _score(vec_col, qvec_col))
    return _top_k(scored, qid_col, id_col, k).select(
        qid_col, "rank", id_col, "score"
    )


def _top_k(
    scored: DataFrame,
    group: str,
    id_col: str,
    k: int,
    score: str = "score",
    rank: str = "rank",
) -> DataFrame:
    """The per-group ranking every batched scorer ends in: `rank` =
    row_number over (group; score desc, id asc), kept while <= k. The id
    breaks score ties, so the kept set is a total order that the oracles'
    `row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id)`
    reproduces."""
    w = Window.partitionBy(group).orderBy(F.desc(score), F.col(id_col))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _label_queries(
    embeddings: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """One query per label, the label's lowest-id vector (seed-free and
    reproducible) → (qid, qvec, qlabel, __qn)."""
    wq = Window.partitionBy(label_col).orderBy(F.col(id_col))
    queries = (
        embeddings.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qvec"),
            F.col(label_col).alias("qlabel"),
        )
    )
    return with_norm(queries, "qvec", "__qn")


def knn_cosine(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    filter_col: str | None = None,
    filter_value=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors of one query vector, optional term
    pre-filter (pushed below scoring, like the ES bool filter+script_score).

    `query_vec` is either a Python list (inlined as an array literal) or
    a ONE-ROW DataFrame whose first column is the vector — the scalar-
    subquery parameter pattern: the row broadcasts into the plan via a
    1-row cross join, so parameterizing by data (e.g. "the embedding of
    doc 0") costs zero extra driver-side Spark jobs. NOTE the implied
    semantics: an EMPTY query DataFrame yields an empty result (cross
    join with nothing), not an error — callers that must distinguish
    "no such query id" from "no hits" should validate the query side
    themselves (checking here would cost the extra job this path
    exists to avoid).

    Scoring is `functions.vectors.cosine_to_query`: the query norm is a
    constant, so each row folds twice (its own norm and the dot).

    → (vec_id, score) ordered by score desc, id asc.
    """
    df = embeddings
    if filter_col is not None:
        df = df.filter(F.col(filter_col) == F.lit(filter_value))
    return (
        cosine_to_query(df, vec_col, query_vec, [id_col], SCORE_ROUND)
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def knn_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """k nearest corpus vectors for EACH query vector.

    Broadcast the query set (small side) → crossJoin scores every
    (corpus, query) pair map-side with zero shuffle of the corpus; the
    only shuffle is the per-qid top-k window. Each side's norm is
    projected once per row, so a pair costs one fold (the dot). This is
    the bulk similarity-search primitive of the north-star scope.

    → (qid, rank, vec_id, score)
    """
    e = with_norm(embeddings, vec_col, "__vn")
    q = with_norm(queries, qvec_col, "__qn")
    return _knn_scored(
        e.crossJoin(F.broadcast(q)), k, id_col, vec_col, qid_col, qvec_col
    )


def search_cache_key(
    provider: Column, filters: Column, k: Column, query_repr: Column
) -> Column:
    """Deterministic search-cache key = sha256 of the '|'-joined request.

    Reference: services/search_cache.py:18-33 (sha256 over embedding
    prefix | provider | filters | k).
    """
    return F.sha2(
        F.concat_ws("|", query_repr, provider, filters, k.cast("string")), 256
    )


# ---- ANN scale path: random-hyperplane LSH bucketing ----

def _hyperplanes(dim: int, n_planes: int, seed: int = 42):
    """Deterministic pseudo-random hyperplanes (pure python LCG — no
    numpy dependency in the plan; values land in [-1, 1))."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            v.append(state / float(1 << 30) - 1.0)
        planes.append(v)
    return planes


def signature_col(vec_col: Column, planes) -> Column:
    """Sign-bit signature string for one vector under the hyperplanes."""
    bits = [
        F.when(dot(vec_col, query_vector_lit(p)) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in planes
    ]
    return F.concat(*bits)


def _f64_rows(vs) -> np.ndarray:
    """Equal-length vectors (a pandas column of arrays) → an (n, dim)
    float64 matrix."""
    return np.array([np.asarray(v, dtype=np.float64) for v in vs])


def _hash_sample(
    embeddings: DataFrame, id_col: str, vec_col: str, seed: int, sample_cap: int
) -> np.ndarray:
    """The bounded deterministic sample every driver-side fit trains on
    (FAISS trains on a sample too): the first `sample_cap` vectors in
    xxhash64(id, seed) order, as an (n, dim) float64 matrix."""
    sample = (
        embeddings.select(
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).alias("__h"),
        )
        .orderBy("__h")
        .limit(sample_cap)
        .toPandas()
    )
    return _f64_rows(sample["v"])


def _kmeans_fit_sample(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int,
    seed: int,
    sample_cap: int = 4096,
    max_iter: int = 10,
) -> list[list[float]]:
    """Spherical k-means centroids from a deterministic hash-ordered
    sample. Driver-side on purpose: the sample is capped, so this is
    O(cap·d·iter) numpy — not a distributed loop over the corpus."""
    x = _hash_sample(embeddings, id_col, vec_col, seed, sample_cap)
    if len(x) == 0:
        raise ValueError("kmeans_fit: empty embeddings corpus")
    # L2-normalize: on the unit sphere argmin euclidean == argmax cosine,
    # matching the cosine cell assignment used at query time
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    k = min(n_clusters, len(x))
    cent = x[:k].copy()  # hash order = deterministic pseudo-random init
    for _ in range(max_iter):
        sims = x @ cent.T
        assign = np.argmax(sims, axis=1)
        new = np.zeros_like(cent)
        for c in range(k):
            members = x[assign == c]
            if len(members) == 0:
                # reseed empty cluster to the globally worst-fit point
                new[c] = x[np.argmin(np.max(sims, axis=1))]
            else:
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                new[c] = m / n if n > 0 else m
        if np.allclose(new, cent, atol=1e-9):
            cent = new
            break
        cent = new
    return [list(map(float, c)) for c in cent]


def _nearest_cells_udf(centroids: list[list[float]]):
    """pandas_udf: vec → array of centroid ids ordered by descending
    cosine (ties → lower id, matching a (distance, id) sort). Centroids
    must be L2-normalized; row norms scale all of a row's dots equally,
    so ranking needs no row normalization."""
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)

    @pandas_udf("array<int>")
    def cells(v: pd.Series, n: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        top = int(n.iloc[0])
        sims = _f64_rows(v) @ C.T
        order = np.argsort(-sims, kind="stable", axis=1)[:, :top]
        return pd.Series(list(order.astype("int32")))

    return cells


def knn_batch_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Approximate batched kNN: equi-join on the hyperplane signature,
    then exact cosine re-score inside each bucket.

    Replaces knn_batch's crossJoin with a hash join on the signature —
    the scored-pair count drops by ~2^n_planes. Recall < 1.0 by design;
    raise recall with multiple tables (union over seeds). This is the
    IVF/LSH scale path mandated by the north star.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    e = with_norm(embeddings, vec_col, "__vn").withColumn(
        "__sig", signature_col(F.col(vec_col), planes)
    )
    q = with_norm(queries, qvec_col, "__qn").withColumn(
        "__sig", signature_col(F.col(qvec_col), planes)
    )
    return _knn_scored(
        e.join(F.broadcast(q), "__sig"), k, id_col, vec_col, qid_col, qvec_col
    )


def _rrf_fuse(
    bm_r: DataFrame, vec_r: DataFrame, keys: list[str], rrf_k: int
) -> DataFrame:
    """Full-outer RRF fusion of two rank lists on `keys` →
    keys + (bm25_rank, vec_rank, rrf_score): rrf = Σ 1/(rrf_k + rank),
    a leg's absent rank contributing 0. Shared by the single-query and
    batch hybrid operators so the scoring formula exists once."""
    inv = lambda rank_col: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(rrf_k)) + rank_col.cast("double")), F.lit(0.0)
    )
    return bm_r.join(vec_r, keys, "full_outer").select(
        *keys,
        "bm25_rank",
        "vec_rank",
        F.round(inv(F.col("bm25_rank")) + inv(F.col("vec_rank")), 6).alias(
            "rrf_score"
        ),
    )


def hybrid_search_rrf(
    documents: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec,
    k: int = 10,
    rrf_k: int = 60,
    n_candidates: int = 50,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion.

    Reference parity: the reference exposes BOTH a full-text match path
    (ES `match`, test_full_pipeline.py:130-139) and a cosine-kNN path
    (services/vector_storage.py:69-100); Elasticsearch's standard way
    to combine them is RRF (`rank: {rrf: ...}`), which this reproduces:

        rrf(d) = Σ_rankings 1 / (rrf_k + rank_i(d))     (rrf_k = 60)

    over the top-`n_candidates` of each ranking; documents absent from
    one ranking contribute 0 from it.

    Scale shape: each leg prunes to `n_candidates` rows BEFORE fusion
    (BM25 leg via TakeOrderedAndProject inside bm25_search, vector leg
    inside knn_cosine), so the global rank windows and the full-outer
    fusion join run on ≤ 2·n_candidates rows — driver-scale, regardless
    of corpus size. The heavy work stays in the two legs, which keep
    their distributed plans.
    """
    from data_pipeline2_spark.operators.textanalysis import bm25_search

    bm = bm25_search(
        documents, query_terms, k=n_candidates, id_col=id_col
    )
    wb = Window.orderBy(F.desc("score"), F.col("doc_id"))
    bm_r = bm.select(
        "doc_id", F.row_number().over(wb).alias("bm25_rank")
    )
    vec = knn_cosine(embeddings, query_vec, k=n_candidates, id_col=vec_id_col)
    wv = Window.orderBy(F.desc("score"), F.col(vec_id_col))
    vec_r = vec.select(
        F.col(vec_id_col).alias("doc_id"),
        F.row_number().over(wv).alias("vec_rank"),
    )
    fused = _rrf_fuse(bm_r, vec_r, ["doc_id"], rrf_k)
    return fused.orderBy(F.desc("rrf_score"), F.col("doc_id")).limit(k)


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding, long format → (label, pos, n, centroid_v).

    The grouped-centroid primitive behind IVF cells, nearest-centroid
    classification, and cluster drift monitoring. One posexplode + one
    (label, pos) hash aggregation — a single shuffle whose width is
    n_labels × dim, independent of corpus row count; partial (map-side)
    aggregation collapses each partition to that width before the
    exchange. Mean is computed as an exact decimal sum / count so the
    result is independent of partitioning and bit-matches the DuckDB
    oracle; rounded for hash stability.
    """
    ex = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(
                    F.col("v").cast("double").cast("decimal(25,10)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid_v"),
        )
        .select(F.col("label"), F.col("pos").cast("int").alias("pos"), "n", "centroid_v")
    )


def centroid_assign(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid classification → confusion matrix
    (label, pred_label, n).

    Every vector is scored against each label centroid (from
    `label_centroids`, rounded so both engines score identical
    centroids) and assigned to the cosine-nearest one; the output is
    the confusion-matrix counts — the standard cluster-purity /
    embedding-quality eval in a training-data pipeline.

    Scale shape: centroids are n_labels × dim (tiny regardless of
    corpus size) and broadcast; the crossJoin scores map-side with no
    corpus shuffle, argmax is a per-vec_id window over n_labels rows,
    and the confusion aggregation collapses to n_labels² rows with
    map-side partials.
    """
    cents = label_centroids(embeddings, label_col, vec_col)
    carr = cents.groupBy(F.col("label").alias("pred_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid_v"))),
            lambda s: s.centroid_v,
        ).alias("cvec")
    )
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).alias("_v"),
    )
    scored = with_norm(vecs, "_v", "__vn").crossJoin(
        F.broadcast(with_norm(carr, "cvec", "__qn"))
    ).select("vec_id", "label", "pred_label", _score("_v", "cvec"))
    best = _top_k(scored, "vec_id", "pred_label", 1)
    return (
        best.groupBy("label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "pred_label")
    )


def hybrid_search_linear(
    documents: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec,
    k: int = 10,
    w_lex: float = 0.5,
    n_candidates: int = 50,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid retrieval by convex score fusion (the other ES hybrid
    mode besides RRF): min-max normalize each leg's scores over its
    candidate set, then fused = w_lex·lex + (1−w_lex)·vec; a document
    absent from a leg contributes 0 from it.

    Same driver-scale fusion shape as hybrid_search_rrf (legs prune to
    n_candidates first). A leg whose candidates all tie normalizes to
    1.0 (equally best) rather than dividing by zero.
    """
    from data_pipeline2_spark.operators.textanalysis import bm25_search

    def _normalized(leg: DataFrame, out: str) -> DataFrame:
        bounds = leg.agg(
            F.min("score").alias("__lo"), F.max("score").alias("__hi")
        )
        return leg.crossJoin(F.broadcast(bounds)).select(
            "doc_id",
            F.when(
                F.col("__hi") > F.col("__lo"),
                (F.col("score") - F.col("__lo"))
                / (F.col("__hi") - F.col("__lo")),
            )
            .otherwise(F.lit(1.0))
            .alias(out),
        )

    bm = _normalized(
        bm25_search(documents, query_terms, k=n_candidates, id_col=id_col),
        "lex_norm",
    )
    vec = _normalized(
        knn_cosine(embeddings, query_vec, k=n_candidates, id_col=vec_id_col)
        .withColumnRenamed(vec_id_col, "doc_id"),
        "vec_norm",
    )
    fused = bm.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.lit(w_lex) * F.coalesce(F.col("lex_norm"), F.lit(0.0))
            + F.lit(1.0 - w_lex) * F.coalesce(F.col("vec_norm"), F.lit(0.0)),
            6,
        ).alias("fused_score"),
    )
    return fused.orderBy(F.desc("fused_score"), F.col("doc_id")).limit(k)


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization per vector → (vec_id, scale,
    q_sum, q_absmax, max_err).

    The storage-compression primitive for large embedding stores (4×
    smaller than float32, 8× than float64): scale = max|v|/127, q_i =
    floor(v_i/scale + 0.5) ∈ [-127, 127], reconstruction v̂_i = q_i·scale.
    Emits the per-vector codebook scale plus integer checksums and the
    max reconstruction error so the oracle value-checks the full
    quantize→dequantize round trip without shipping the int8 payload.

    Pure per-row Catalyst array expressions (`transform`/`zip_with`/
    `aggregate`) — no shuffle, no UDF; at 100 TB this is a map-only
    pass that parallelizes per file split. floor(x+0.5) rather than
    round() so halves break identically in Spark and DuckDB.

    Engine analog of the reference's dense_vector storage knob
    (doc_pipeline/services/vector_storage.py:42-59 stores float vectors
    verbatim; quantization is the scale-path refinement).
    """
    v = _as_double(vec_col)
    absmax = F.array_max(F.transform(v, F.abs))
    scale = (absmax / F.lit(127.0)).alias("_scale")
    df = embeddings.select(F.col(id_col).alias("vec_id"), v.alias("_v"), scale)
    q = F.when(
        F.col("_scale") == 0,
        F.transform(F.col("_v"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("int"),
        )
    )
    df = df.withColumn("_q", q)
    err = F.when(F.col("_scale") == 0, F.lit(0.0)).otherwise(
        F.array_max(
            F.zip_with(
                F.col("_v"),
                F.col("_q"),
                lambda x, qq: F.abs(x - qq.cast("double") * F.col("_scale")),
            )
        )
    )
    return df.select(
        "vec_id",
        F.round(F.col("_scale"), 8).alias("scale"),
        F.aggregate(
            F.col("_q"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
        F.aggregate(
            F.col("_q"), F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("q_absmax_sum"),
        F.round(err, 8).alias("max_err"),
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    qlabel_col: str = "qlabel",
) -> DataFrame:
    """Hard-negative mining: for each query vector, the k most
    cosine-similar corpus vectors with a DIFFERENT label →
    (qid, rank, vec_id, neg_label, score).

    The contrastive-training data-prep primitive (most-confusable
    negatives beat random negatives). Same physical shape as
    `knn_batch` — broadcast query set, map-side scoring with zero
    corpus shuffle, per-qid top-k window — plus the label-mismatch
    predicate applied BEFORE scoring so excluded pairs are never
    scored at all.
    """
    scored = (
        with_norm(embeddings, vec_col, "__vn")
        .crossJoin(F.broadcast(with_norm(queries, qvec_col, "__qn")))
        .filter(F.col(label_col) != F.col(qlabel_col))
        .select(
            F.col(qid_col),
            F.col(id_col),
            F.col(label_col).alias("neg_label"),
            _score(vec_col, qvec_col),
        )
    )
    return (
        _top_k(scored, qid_col, id_col, k)
        .select(
            F.col(qid_col).alias("qid"),
            F.col("rank").cast("int").alias("rank"),
            F.col(id_col).alias("vec_id"),
            "neg_label",
            "score",
        )
    )


def _as_double(vec_col: str) -> Column:
    """The vector column with every element cast to double."""
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean distance, left-to-right index-order fold so
    the double arithmetic bit-matches the DuckDB oracle's fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def kmeans(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column →
    (cluster, n, inertia) per final cluster.

    Init = the k lowest-id vectors (seed-free, reproducible); each of
    `n_iter` rounds assigns every vector to the nearest centroid
    (squared-L2, rounded before argmin so cross-engine ulp noise can't
    flip ties) and recomputes centroids as exact decimal-sum means
    rounded to 6 places. Rounded centroids are collected to the driver
    (k×dim doubles — bytes, not data) and re-broadcast as literals,
    exactly how MLlib's KMeans iterates; all heavy work stays
    distributed: assignment is a broadcast crossJoin (k× row blowup,
    no corpus shuffle) and the mean recompute is one posexplode +
    (cluster, pos) partial-aggregated shuffle of width k×dim.

    The iterative step is the engine's template for driver-coordinated
    iterative algorithms at 100 TB: per-iteration state is O(k·dim),
    never O(rows). Fixed iteration count keeps it oracle-replayable
    (the DuckDB SQL unrolls the same rounds as CTEs).
    """
    cents, assign = _kmeans_trajectory(embeddings, k, n_iter, id_col, vec_col)
    final = assign(cents)
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("dist"), 8).cast("decimal(25,10)")).cast(
                    "double"
                ),
                6,
            ).alias("inertia"),
        )
        .select(F.col("cluster").cast("int").alias("cluster"), "n", "inertia")
        .orderBy("cluster")
    )


def _kmeans_trajectory(
    embeddings: DataFrame,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
):
    """Shared deterministic Lloyd's loop → (final centroids, assign fn).

    Init = k lowest-id vectors rounded to 6 places; each round assigns
    by ROUNDED squared-L2 argmin and recomputes decimal-exact rounded
    means — every step is engine-portable, so the DuckDB oracle can
    unroll the identical trajectory (registry.vector_partsupp._kmeans_sql). Centroids
    collect to the driver (k×dim doubles) and re-broadcast per round,
    the MLlib iteration pattern; all heavy work stays distributed.
    """
    # The casted projection is read by the init collect plus EVERY
    # assign round (n_iter fit rounds + the caller's final assignment)
    # — materialize it once instead of re-running scan+cast per round
    # (the MLlib pattern: iterative fits cache their input working
    # set). Lazy: the init collect triggers it, so no dedicated job.
    # Spread over the session's default parallelism first: every fit
    # stage runs one task per partition of `proj`, and a small input
    # often arrives AQE-coalesced to a single partition.
    proj = (
        embeddings.select(
            F.col(id_col).alias("_id"),
            _as_double(vec_col).alias("_v"),
        )
        .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
        .transform(materialize_lazy)
    )

    init = (
        proj.orderBy("_id")
        .limit(k)
        .select(
            F.transform(F.col("_v"), lambda x: F.round(x, 6)).alias("cvec")
        )
        .collect()
    )
    cents = [(i, list(r["cvec"])) for i, r in enumerate(init)]

    def assign(cent_rows):
        return _frozen_argmin_assign(proj, cent_rows, "_v").select(
            "_id",
            "_v",
            F.col("__cell").alias("cluster"),
            F.col("__dist").alias("dist"),
        )

    # Mean recompute stays the posexplode → (cluster,pos) partial agg
    # → (cluster) collect_list chain: a single 64-column decimal agg
    # (one buffer per dimension) was measured ~20% SLOWER per round —
    # the dim-x posexplode rows partial-aggregate map-side, so the
    # exchange carries k x dim tiny rows either way and the two-level
    # shape keeps whole-stage codegen on the hot path.
    for _ in range(n_iter):
        assigned = assign(cents)
        means = (
            assigned.select("cluster", F.posexplode("_v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(25,10)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("m")
            )
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("cvec")
            )
            .collect()
        )
        cents = sorted((r["cluster"], list(r["cvec"])) for r in means)

    return cents, assign


def _frozen_argmin_assign(df: DataFrame, cent_rows, vec_col: str) -> DataFrame:
    """THE cell assignment, existing exactly once: the `_cell_order`
    argmin (rounded squared-L2, lowest-cid tie) — appends (__cell,
    __dist) to `df` whose `vec_col` holds array<double>. Shared by the
    k-means fit loop, knn_batch_ivf's corpus side and the
    frozen-codebook incremental add (ivf_cell_assign), so a retune of
    the precision or tie rule can never desynchronize them — the
    contract ivf_index_stream's oracle checks.

    Centroids ride in as ONE broadcast row holding an
    array<struct<cid,cvec>> column, and the argmin is an array_min
    over (dist, cid) structs — lexicographic struct ordering IS the
    rounded-dist-then-lowest-cid tie rule. Assignment is therefore
    MAP-ONLY (1xN broadcast cross join, no k-x row blowup, no per-row
    window, zero exchanges).

    Centroid values flow as DATA through a broadcast 1-row
    array<struct> column, never as plan literals: two measured dead
    ends are recorded here so they are not retried — (a) inlining the
    k x dim doubles as literals (plain or CreateArray-folded) makes
    every Lloyd round a novel codegen unit, and the per-round
    whole-stage recompile dwarfs the compute; (b) unrolling the
    distance fold as explicit getItem chains sent Catalyst's recursive
    transforms quadratic (~30 s/fit on the ~4k-node left-deep tree).
    The zip_with/aggregate fold is interpreted per element but linear
    and plan-stable.
    """
    best = F.array_min(_cell_order(F.col(vec_col)))
    cents_df = _cents_frame(df.sparkSession, cent_rows)
    return df.crossJoin(F.broadcast(cents_df)).select(
        *df.columns,
        best["cid"].alias("__cell"),
        best["dist"].alias("__dist"),
    )


_CENTS_SCHEMA = StructType([
    StructField("cents", ArrayType(StructType([
        StructField("cid", IntegerType()),
        StructField("cvec", ArrayType(DoubleType())),
    ]))),
])


def _cents_frame(spark, cent_rows) -> DataFrame:
    """The frozen codebook as ONE row holding `cents`
    array<struct<cid:int, cvec:array<double>>> — the data the cell
    order reads (see `_frozen_argmin_assign` for why not literals).

    Built from an Arrow table, so it plans as a `LocalTableScan` (still
    data, not literals). Python rows plan as `Scan ExistingRDD` over a
    pickled RDD, which needs a Python worker on every k-means round,
    streaming micro-batch and probe (~450 ms per probe measured)."""
    cents = [
        {"cid": int(cid), "cvec": [float(x) for x in cvec]}
        for cid, cvec in cent_rows
    ]
    return spark.createDataFrame(pa.table({"cents": [cents]}), _CENTS_SCHEMA)


def _cell_order(v: Column) -> Column:
    """Every centroid of the `cents` column as a (dist, cid) struct for
    vector `v`, dist = squared-L2 rounded to 6 places. Struct ordering
    IS the IVF cell rule — rounded distance first, lowest cid on ties —
    so `array_min` of this is a row's cell and `_probe_order` its
    nearest cells, one rule for assignment and probing."""
    return F.transform(
        F.col("cents"),
        lambda c: F.struct(
            F.round(_sq_dist(v, c["cvec"]), 6).alias("dist"),
            c["cid"].alias("cid"),
        ),
    )


def _probe_order(v: Column, n_probe: int) -> Column:
    """The `n_probe` nearest cells to `v` as array<int> cids, nearest
    first (the oracles' `ORDER BY round(sqdist, 6), cid LIMIT n`)."""
    return F.slice(F.array_sort(_cell_order(v)), 1, n_probe)["cid"]


def ivf_cell_assign(
    df: DataFrame,
    cents,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """Assign rows to FROZEN IVF cells → (id_col, *keep_cols, cell):
    the identical `_frozen_argmin_assign` rule the k-means fit uses,
    applied to an ARBITRARY input frame so micro-batches can enter the
    persisted cell layout without refitting the codebook (FAISS's
    add-after-train contract; streaming/stateful.ivf_layout_sink is
    the consumer).

    `keep_cols` rides extra input columns through the assignment —
    the underlying rule APPENDS to its input frame, so carrying the
    embedding (or any payload) through is free and map-only. A caller
    that instead joins this result back to its input on id_col
    re-executes the input's lineage AND adds a shuffle per call
    (VERDICT r11 finding 2, document_index_sink's per-micro-batch
    join-back)."""
    proj = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        _as_double(vec_col).alias("__v"),
    )
    return _frozen_argmin_assign(proj, cents, "__v").select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col("__cell").alias("cell"),
    )


def knn_batch_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """IVF batched kNN: partition the corpus into k-means cells, probe
    only each query's n_probe nearest cells, exact-rescore inside them
    → (qid, rank, vec_id, score).

    The centroids come from the deterministic distributed fit
    (rounded-decimal Lloyd's, `_kmeans_trajectory`), so every step is
    engine-portable and the whole loop is value-checkable against a
    SQL oracle (registry.vector_partsupp._ivf_exact_sql). A query
    touches n_probe/n_clusters of the data; recall grows with n_probe.

    Plan shape: corpus rows take their cell map-only through
    `_frozen_argmin_assign` (the rule the fit used), queries take their
    probes as an array expression of the same cell order against the
    broadcast codebook, and the probed cells join the broadcast query
    side — the only shuffle is the per-query top-k window. A vector
    belongs to exactly one cell and a query probes distinct cells, so
    no (qid, vec_id) pair can duplicate.
    """
    cents, _ = _kmeans_trajectory(embeddings, n_clusters, n_iter, id_col, vec_col)
    e = _frozen_argmin_assign(
        with_norm(embeddings, vec_col, "__vn").withColumn("__v", _as_double(vec_col)),
        cents,
        "__v",
    )
    q = with_norm(queries.select(qid_col, qvec_col), qvec_col, "__qn")
    probes = q.crossJoin(
        F.broadcast(_cents_frame(queries.sparkSession, cents))
    ).select(
        *q.columns,
        F.explode(_probe_order(_as_double(qvec_col), n_probe)).alias("__cell"),
    )
    return _knn_scored(
        e.join(F.broadcast(probes), "__cell"), k, id_col, vec_col, qid_col, qvec_col
    )


# ------------------------------------------------------------ product
# quantization (the FAISS IVF-PQ storage half: m sub-codebooks of
# n_codes entries each compress a dim-float vector to m small ints)


def pq_fit(
    embeddings: DataFrame,
    m_subvectors: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    sample_cap: int = 4096,
    max_iter: int = 15,
    normalize: bool = False,
) -> list:
    """Product-quantization codebooks: m_subvectors codebooks of
    n_codes x (dim/m) centroids, fit with plain (euclidean) k-means on
    a deterministic hash-ordered sample — the same bounded driver-side
    pattern as `_kmeans_fit_sample` (FAISS trains on a sample too).

    Entry 0 of every codebook is overwritten with the subspace SAMPLE
    MEAN after fitting: the encoder argmins over all entries, so every
    vector's reconstruction error is then provably <= its error against
    the mean-only (k=1) baseline — the invariant the driver oracle
    checks without having to replay k-means in SQL.
    """
    x = _hash_sample(embeddings, id_col, vec_col, seed, sample_cap)
    if x.ndim != 2 or x.shape[0] == 0:
        raise ValueError("pq_fit: empty or ragged embedding sample")
    if normalize:
        x = _l2_normalize_rows(x)
    dim = x.shape[1]
    if dim % m_subvectors:
        raise ValueError(
            f"pq_fit: dim {dim} not divisible by m_subvectors {m_subvectors}"
        )
    d_sub = dim // m_subvectors
    sub = x.reshape(len(x), m_subvectors, d_sub)
    books = []
    for j in range(m_subvectors):
        xs = sub[:, j, :]
        k = min(n_codes, len(xs))
        cent = xs[:k].copy()  # hash order = deterministic init
        for _ in range(max_iter):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            new = np.zeros_like(cent)
            for c in range(k):
                members = xs[assign == c]
                new[c] = (
                    members.mean(axis=0)
                    if len(members)
                    else xs[np.argmax(d2.min(axis=1))]
                )
            if np.allclose(new, cent, atol=1e-12):
                cent = new
                break
            cent = new
        cent[0] = xs.mean(axis=0)  # the oracle-checkable k=1 baseline
        books.append([list(map(float, c)) for c in cent])
    return books


def _pq_batch(x, books):
    """(b, dim) float64 batch -> (codes (b, m), pq_err, mean_err)."""
    b = x.shape[0]
    m = len(books)
    d_sub = x.shape[1] // m
    sub = x.reshape(b, m, d_sub)
    codes = np.zeros((b, m), dtype=np.int32)
    pq_err = np.zeros(b)
    mean_err = np.zeros(b)
    for j, book in enumerate(books):
        cent = np.asarray(book)
        d2 = ((sub[:, j, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d2, axis=1)
        pq_err += d2[np.arange(b), codes[:, j]]
        mean_err += d2[:, 0]
    return codes, pq_err, mean_err


def pq_encode(
    embeddings: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (vec_id, codes array<int>): dim floats compressed to m ints.
    Codebooks broadcast in the UDF closure (m·n_codes·d_sub floats —
    KBs); encoding is one numpy distance matrix per Arrow batch,
    map-only, no shuffle."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = _f64_rows(pdf[vec_col])
            if len(x) == 0:
                continue
            codes, _, _ = _pq_batch(x, codebooks)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col], "codes": list(map(list, codes))}
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        enc, "vec_id long, codes array<int>"
    )


def pq_reconstruct_stats(
    embeddings: DataFrame,
    m_subvectors: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Driver-hashable PQ invariants: → (vec_id, dim, m, n_codes,
    codes_valid, within_mean_bound).

    `within_mean_bound` is the argmin guarantee made checkable: with
    codebook entry 0 pinned to the subspace mean, min-over-codes error
    <= entry-0 error BY CONSTRUCTION — both sides computed in the same
    numpy pass, so the comparison is float-exact. A broken encoder
    (wrong reshape, wrong argmin axis, codebook row/col swap) flips it
    to false and the oracle (which emits constant true) hash-mismatches.
    """
    books = pq_fit(
        embeddings, m_subvectors, n_codes, id_col, vec_col, seed
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = _f64_rows(pdf[vec_col])
            if len(x) == 0:
                continue
            codes, pq_err, mean_err = _pq_batch(x, books)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "dim": np.full(len(x), x.shape[1], dtype=np.int32),
                    "m": np.full(len(x), len(books), dtype=np.int32),
                    "n_codes": np.full(len(x), n_codes, dtype=np.int32),
                    "codes_valid": [
                        bool((c >= 0).all() and (c < n_codes).all())
                        for c in codes
                    ],
                    "within_mean_bound": list(pq_err <= mean_err),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        stats,
        "vec_id long, dim int, m int, n_codes int, "
        "codes_valid boolean, within_mean_bound boolean",
    )


def _l2_normalize_rows(x):
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return x / norms


def _unit_queries(
    queries: DataFrame, qid_col: str, qvec_col: str, op: str
) -> tuple[np.ndarray, np.ndarray]:
    """The query batch on the driver → (qids, L2-normalized (nq, dim)
    matrix); an empty batch is a named error, not an empty result."""
    q_pdf = queries.select(qid_col, qvec_col).toPandas()
    if len(q_pdf) == 0:
        raise ValueError(f"{op}: empty query batch")
    return q_pdf[qid_col].to_numpy(), _l2_normalize_rows(_f64_rows(q_pdf[qvec_col]))


def _adc_lut(qx: np.ndarray, books: list) -> np.ndarray:
    """ADC lookup table LUT[q, j, c] = <q_sub_j, codebook_j[c]>."""
    m = len(books)
    d_sub = qx.shape[1] // m
    return np.stack(
        [qx[:, j * d_sub : (j + 1) * d_sub] @ np.asarray(books[j]).T for j in range(m)],
        axis=1,
    )


def _batch_candidates(
    embeddings: DataFrame, qids: np.ndarray, rerank: int, approx, id_col: str,
    vec_col: str,
) -> DataFrame:
    """Map-only candidate emitter of the quantized scans: per Arrow
    batch, `approx(x)` scores the batch's float64 vectors against every
    query ((nq, b) matrix) and the batch emits only its own top-`rerank`
    per query → (qid, vec_id, adc), so the shuffle carries
    O(partitions · queries · rerank) rows, never the corpus."""

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = _f64_rows(pdf["__vec"])
            if len(x) == 0:
                continue
            adc = approx(x)
            n_keep = min(rerank, len(x))
            ids = pdf["__vid"].to_numpy()
            out_qid, out_vid, out_adc = [], [], []
            for qi in range(len(qids)):
                part = np.argpartition(-adc[qi], n_keep - 1)[:n_keep]
                out_qid.extend([qids[qi]] * n_keep)
                out_vid.extend(ids[part])
                out_adc.extend(adc[qi, part])
            yield pd.DataFrame(
                {"qid": out_qid, "vec_id": out_vid, "adc": out_adc}
            )

    corpus = embeddings.select(
        F.col(id_col).alias("__vid"), F.col(vec_col).alias("__vec")
    )
    return corpus.mapInPandas(score, "qid long, vec_id long, adc double")


def _exact_rerank(
    cand: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
) -> DataFrame:
    """Shared tail of every quantized ANN path (PQ / IVF-PQ / SQ8):
    keep the top-`rerank` approximate candidates per query, join the
    shortlist's float vectors back, score EXACT cosine, emit the final
    top-k → (qid, rank, vec_id, score). `cand` holds each (qid, vec_id)
    at most once. Shuffle = candidate rows only; the corpus never
    re-scans. The vector norm is projected on the shortlisted rows, so
    only candidates pay for it."""
    shortlist = _top_k(cand, "qid", "vec_id", rerank, "adc", "__rn")
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__vec")
    )
    q = queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("__qv"))
    pairs = with_norm(shortlist.join(corpus, "vec_id"), "__vec", "__vn").join(
        F.broadcast(with_norm(q, "__qv", "__qn")), "qid"
    )
    return _knn_scored(pairs, k, "vec_id", "__vec", "qid", "__qv").select(
        F.col("qid").alias(qid_col), "rank", F.col("vec_id").alias(id_col), "score"
    )


def knn_batch_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 50,
    m_subvectors: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """ADC (asymmetric distance computation) kNN — the search half of
    IVF-PQ: corpus vectors score against per-query LOOKUP TABLES over
    the PQ codebooks (LUT[q][j][c] = <q_sub_j, codebook_j[c]>; ADC
    score = sum_j LUT[q][j][code_j]) instead of full dot products, then
    the top-`rerank` ADC candidates per query re-rank with EXACT cosine
    → (qid, rank, vec_id, score).

    Shape at scale:
    - codebooks + query LUTs ride the UDF closure (KBs) — the corpus
      never sees raw query vectors until re-rank;
    - scoring is two numpy matmul/gathers per Arrow batch, map-only;
    - each batch emits only its own top-`rerank` per query, so the
      shuffle carries O(partitions · queries · rerank) candidate rows,
      never the corpus;
    - exact re-rank joins candidates back to embeddings on the id —
      `rerank` rows per query of float vectors, a broadcast-size set.

    Both sides L2-normalize, so ADC approximates cosine and the exact
    re-rank IS cosine — recall gated in pytest (no SQL oracle: the
    codebooks come from a k-means fit; `pq_quantize` carries the
    driver-checkable invariant for the same encode path).
    """
    books = pq_fit(
        embeddings, m_subvectors, n_codes, id_col, vec_col, normalize=True
    )
    qids, qx = _unit_queries(queries, qid_col, qvec_col, "knn_batch_pq")
    lut = _adc_lut(qx, books)

    def approx(x):
        codes, _, _ = _pq_batch(_l2_normalize_rows(x), books)
        # adc[q, b] = sum_j lut[q, j, codes[b, j]]
        adc = np.zeros((len(qids), len(x)))
        for j in range(len(books)):
            adc += lut[:, j, codes[:, j]]
        return adc

    cand = _batch_candidates(embeddings, qids, rerank, approx, id_col, vec_col)
    return _exact_rerank(
        cand, embeddings, queries, k, rerank,
        id_col, vec_col, qid_col, qvec_col,
    )


def knn_batch_ivfpq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 8,
    n_probe: int = 2,
    rerank: int = 50,
    m_subvectors: int = 4,
    n_codes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """IVF-PQ — the canonical billion-scale ANN composition, built from
    the two halves already in this module:

    1. IVF coarse stage: corpus clustered by broadcast centroids from
       the sampled spherical fit (`_kmeans_fit_sample`, ranked by
       `_nearest_cells_udf`); each query probes its n_probe nearest
       cells — touches n_probe/n_clusters of the data;
    2. PQ fine stage (knn_batch_pq machinery): inside probed cells,
       ADC lookup-table scores rank candidates without touching raw
       floats; the top-`rerank` per query re-rank with exact cosine.

    At 100 TB: the corpus is physically cell-partitioned (see
    test_layout's IVF lake layout), so stage 1 is partition PRUNING,
    stage 2 reads codes (m bytes/vector, ~100-200× smaller than the
    float column), and only `rerank` full vectors per query are ever
    fetched. Recall is n_probe × rerank tunable, pytest-gated like
    knn_batch_pq (codebooks/k-means make it non-SQL-replayable; the
    driver-checkable gates are `pq_quantize` and `knn_batch_ivf`).
    """
    centroids = _kmeans_fit_sample(
        embeddings, id_col, vec_col, n_clusters, seed
    )
    nearest_cells = _nearest_cells_udf(centroids)
    e = embeddings.withColumn(
        "__cell", F.element_at(nearest_cells(F.col(vec_col), F.lit(1)), 1)
    )
    probes = queries.select(
        F.col(qid_col).alias("__pq_qid"),
        F.explode(nearest_cells(F.col(qvec_col), F.lit(n_probe))).alias(
            "__cell"
        ),
    )
    # restrict the corpus to probed cells, tagging rows with the probing
    # query so ADC scoring only pairs a vector with queries that probed
    # its cell (a vector in two probed cells of different queries scores
    # for each, never globally)
    books = pq_fit(
        embeddings, m_subvectors, n_codes, id_col, vec_col,
        seed=seed, normalize=True,
    )
    qids, qx = _unit_queries(queries, qid_col, qvec_col, "knn_batch_ivfpq")
    qid_to_row = {int(q): i for i, q in enumerate(qids)}
    lut = _adc_lut(qx, books)

    cell_rows = e.join(F.broadcast(probes), "__cell").select(
        F.col("__pq_qid"),
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__vec"),
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _f64_rows(pdf["__vec"])
            codes, _, _ = _pq_batch(_l2_normalize_rows(x), books)
            qrows = np.array(
                [qid_to_row[int(q)] for q in pdf["__pq_qid"]]
            )
            adc = np.zeros(len(x))
            for j in range(len(books)):
                adc += lut[qrows, j, codes[:, j]]
            yield pd.DataFrame(
                {
                    "qid": pdf["__pq_qid"],
                    "vec_id": pdf["__vid"],
                    "adc": adc,
                }
            )

    cand = cell_rows.mapInPandas(score, "qid long, vec_id long, adc double")
    return _exact_rerank(
        cand, embeddings, queries, k, rerank,
        id_col, vec_col, qid_col, qvec_col,
    )


def ann_recall_stats(
    embeddings: DataFrame,
    queries: DataFrame,
    ann: DataFrame,
    k: int = 5,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Driver-checkable recall gate for the non-SQL-replayable ANN
    search paths (VERDICT r3 item 3): computes, IN-PLAN, each query's
    exact cosine top-k (`knn_batch`, value-oracled elsewhere) and the
    overlap of `ann`'s top-k with it → (qid, k, recall_ok) where
    recall_ok = per-query recall@k >= threshold. The oracle emits
    constant true per query row, so any regression in the ANN path —
    codebook fit, ADC table, cell probing, re-rank join — drops overlap
    below the gate and hash-mismatches. Same invariant-oracle pattern
    as pq_quantize / approx_count_distinct.

    The exact side broadcasts the query set and shuffles only top-k
    rows per qid; the overlap join carries queries*k rows — driver-side
    cost is O(corpus) regardless of scale.
    """
    import math

    need = math.ceil(threshold * k - 1e-9)
    exact = knn_batch(
        embeddings, queries, k=k,
        id_col=id_col, vec_col=vec_col, qid_col=qid_col, qvec_col=qvec_col,
    )
    hits = (
        ann.select(qid_col, id_col)
        .join(exact.select(qid_col, id_col), [qid_col, id_col])
        .groupBy(qid_col)
        # countDistinct, not count: a regression that DUPLICATES one
        # correct id per query must not inflate overlap past the gate
        .agg(F.countDistinct(id_col).alias("__n_hit"))
    )
    return (
        queries.select(qid_col)
        .join(hits, qid_col, "left")
        .select(
            qid_col,
            F.lit(k).cast("int").alias("k"),
            (F.coalesce(F.col("__n_hit"), F.lit(0)) >= F.lit(need)).alias(
                "recall_ok"
            ),
        )
    )


def mmr_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k → (qid, rank,
    vec_id, relevance, mmr_score): greedily picks
    argmax lam*sim(q,d) - (1-lam)*max_{s in S} sim(d,s) from the exact
    cosine top-`pool` candidates — the standard RAG re-rank that trades
    raw relevance for coverage.

    Distributed shape: candidate generation is `knn_batch` (broadcast
    queries, corpus never shuffles); the greedy loop is inherently
    sequential per query but over only `pool` vectors, so it runs in
    applyInPandas grouped by qid — parallelism = queries, state = one
    pool (pool x dim floats). Ties break by vec_id for determinism.
    """
    if candidates is None:
        candidates = knn_batch(
            embeddings, queries, k=pool,
            id_col=id_col, vec_col=vec_col, qid_col=qid_col,
            qvec_col=qvec_col,
        )
    corpus = embeddings.select(
        F.col(id_col).alias("__vid"), F.col(vec_col).alias("__vec")
    )
    rows = candidates.join(corpus, F.col(id_col) == F.col("__vid")).select(
        qid_col, id_col, F.col("score").alias("relevance"), "__vec"
    )
    qid_t = dict(queries.dtypes)[qid_col]
    id_t = dict(embeddings.dtypes)[id_col]

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["relevance", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        x = _l2_normalize_rows(_f64_rows(pdf["__vec"]))
        sim = x @ x.T  # pool x pool candidate-candidate cosine
        rel = pdf["relevance"].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        chosen: list[int] = []
        scores: list[float] = []
        avail = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            if not chosen:
                mmr = np.where(avail, lam * rel, -np.inf)
            else:
                red = sim[:, chosen].max(axis=1)
                mmr = np.where(avail, lam * rel - (1.0 - lam) * red, -np.inf)
            # deterministic argmax: best score, lowest vec_id on ties
            best = np.lexsort((ids, -mmr))[0]
            chosen.append(best)
            scores.append(float(mmr[best]))
            avail[best] = False
        return pd.DataFrame(
            {
                "qid": pdf[qid_col].iloc[:1].repeat(len(chosen)).to_numpy(),
                "rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
                "vec_id": ids[chosen],
                "relevance": rel[chosen].round(SCORE_ROUND),
                "mmr_score": np.round(scores, SCORE_ROUND),
            }
        )

    out = rows.groupBy(qid_col).applyInPandas(
        pick,
        f"qid {qid_t}, rank int, vec_id {id_t}, "
        "relevance double, mmr_score double",
    )
    return out.select(
        F.col("qid").alias(qid_col),
        "rank",
        F.col("vec_id").alias(id_col),
        "relevance",
        "mmr_score",
    )


def mmr_invariants(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Driver-checkable MMR invariants → (qid, k, first_is_top1,
    all_in_pool, k_distinct): the greedy loop's provable properties —
    the first pick IS the exact cosine top-1 (empty-set MMR reduces to
    relevance), every pick comes from the candidate pool, and exactly
    min(k, pool) distinct ids are returned. Oracle emits constant true
    (same pattern as ann_recall_stats); MMR score VALUES are pinned by
    pytest on synthetic geometry.
    """
    cand_ranked = knn_batch(
        embeddings, queries, k=pool,
        id_col=id_col, vec_col=vec_col, qid_col=qid_col, qvec_col=qvec_col,
    ).transform(materialize)  # pool x queries rows, three consumers
    # ONE corpus scoring pass serves the MMR picks (threaded through as
    # the candidate set), the exact-top-1 invariant, and the pool check
    mmr = mmr_rerank(
        embeddings, queries, k, pool, lam,
        id_col=id_col, vec_col=vec_col, qid_col=qid_col, qvec_col=qvec_col,
        candidates=cand_ranked,
    )
    exact1 = cand_ranked.filter(F.col("rank") == 1).select(
        F.col(qid_col), F.col(id_col).alias("__top1")
    )
    cand = cand_ranked.select(F.col(qid_col), F.col(id_col).alias("__cid"))
    in_pool = (
        mmr.join(
            cand,
            (mmr[qid_col] == cand[qid_col]) & (mmr[id_col] == cand["__cid"]),
            "left",
        )
        .groupBy(mmr[qid_col].alias(qid_col))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count("__cid").alias("__n_in_pool"),
            F.countDistinct(mmr[id_col]).alias("__n_distinct"),
            F.max(F.when(F.col("rank") == 1, mmr[id_col])).alias("__first"),
        )
    )
    return (
        in_pool.join(exact1, qid_col)
        .select(
            qid_col,
            F.lit(k).cast("int").alias("k"),
            (F.col("__first") == F.col("__top1")).alias("first_is_top1"),
            (F.col("__n_in_pool") == F.col("__n")).alias("all_in_pool"),
            (F.col("__n_distinct") == F.least(F.lit(k), F.lit(pool))).alias(
                "k_distinct"
            ),
        )
    )


def embedding_dim_stats(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension corpus statistics → (pos, n, mean_v, var_v) — the
    drift/collapse monitor for an embedding column (a dimension whose
    variance falls to ~0 is dead; a mean drifting between snapshots
    signals an encoder change).

    Determinism: sums accumulate as DECIMAL(25,10) (exact, partition-
    order-free); mean and variance are then fixed-order scalar IEEE ops
    on those exact aggregates, rounded. One aggregation keyed on `pos`
    whose width is the dimensionality, independent of corpus size, with
    map-side partials.
    """
    ex = embeddings.select(F.posexplode(F.col(vec_col)).alias("pos", "v"))
    dec = F.col("v").cast("double").cast("decimal(25,10)")
    sq = (F.col("v").cast("double") * F.col("v").cast("double")).cast(
        "decimal(25,10)"
    )
    agg = ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("__s"),
        F.sum(sq).cast("double").alias("__ss"),
    )
    mean = F.col("__s") / F.col("n")
    return agg.select(
        F.col("pos").cast("int").alias("pos"),
        F.col("n").cast("long").alias("n"),
        F.round(mean, 6).alias("mean_v"),
        F.round(F.col("__ss") / F.col("n") - mean * mean, 6).alias("var_v"),
    )


def quantize_int8(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension scalar quantization to int8 codes → (vec_id,
    n_dims, code_sum, within_bound).

    The FAISS-style SQ8 compression step: per-dim [min, max] from one
    tiny aggregation (n_dims rows, broadcast back), code =
    min(floor((x - lo) * 256 / (hi - lo)), 255) — floor, not round, so
    both engines bucket identically with no half-way-tie hazard.
    within_bound asserts the dequantization error bound |dequant - x|
    <= (hi - lo)/512 (+ float slack) holds for EVERY dimension — the
    invariant that makes the lossy encode oracle-checkable.

    Scale shape: codes are 1 byte/dim (4x smaller than float32); the
    corpus maps once against broadcast ranges — no corpus shuffle.
    """
    ex = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    ranges = ex.groupBy("pos").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    scored = ex.join(F.broadcast(ranges), "pos")
    width = F.col("hi") - F.col("lo")
    code = F.when(width > 0, F.least(
        F.floor((F.col("v") - F.col("lo")) * 256.0 / width), F.lit(255)
    ).cast("int")).otherwise(F.lit(0))
    dequant = F.col("lo") + (code.cast("double") + 0.5) * width / 256.0
    ok = F.abs(dequant - F.col("v")) <= width / 512.0 + 1e-9
    return (
        scored.select("vec_id", code.alias("code"), ok.alias("ok"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_dims"),
            F.sum("code").cast("long").alias("code_sum"),
            F.min("ok").alias("within_bound"),
        )
    )


def pca_fit(
    embeddings: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 4096,
) -> tuple[list[float], list[list[float]]]:
    """(mean, components) of a rank-k PCA from a deterministic
    hash-ordered sample — the same bounded-driver-fit discipline as
    `_kmeans_fit` (O(cap·d²) numpy SVD, never a distributed loop).
    Components are orthonormal rows sorted by descending singular
    value."""
    x = _hash_sample(embeddings, id_col, vec_col, 77, sample_cap)
    if len(x) == 0:
        raise ValueError("pca_fit: empty embeddings corpus")
    mu = x.mean(axis=0)
    _, _, vt = np.linalg.svd(x - mu, full_matrices=False)
    # SVD yields min(rows, dims) components; a request beyond that
    # truncates, and pca_project stamps the EFFECTIVE k it returns
    comps = vt[: min(k, vt.shape[0])]
    return list(map(float, mu)), [list(map(float, c)) for c in comps]


def pca_project(
    embeddings: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 4096,
) -> DataFrame:
    """Rank-k PCA projection → (vec_id, proj array<double>, k,
    bessel_ok).

    The dimensionality-reduction step before cheap ANN / clustering /
    drift dashboards. Components fit driver-side on a bounded sample
    (see pca_fit) and BROADCAST; the corpus projects map-side in one
    vectorized pandas_udf (one numpy matmul per Arrow batch) — no
    corpus shuffle, same scale shape as the IVF cell assignment.

    bessel_ok is the per-row orthonormal-projection invariant
    ||W(x-mu)||^2 <= ||x-mu||^2 (Bessel), the oracle-checkable
    proof that the projection is a real orthonormal PCA and not an
    arbitrary linear map — the fitted values themselves are
    sample-dependent and gate in pytest instead.
    """
    from pyspark.sql.functions import pandas_udf

    mu, comps = pca_fit(embeddings, k, id_col, vec_col, sample_cap)
    M = np.array(mu)
    W = np.array(comps)

    @pandas_udf("struct<proj: array<double>, bessel_ok: boolean>")
    def _project(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:  # np.array([]) - M would raise a broadcast error
            return pd.DataFrame(
                {
                    "proj": pd.Series([], dtype=object),
                    "bessel_ok": pd.Series([], dtype=bool),
                }
            )
        x = _f64_rows(vs) - M
        y = x @ W.T
        ok = (y * y).sum(axis=1) <= (x * x).sum(axis=1) + 1e-9
        return pd.DataFrame(
            {"proj": [list(map(float, r)) for r in y], "bessel_ok": ok}
        )

    out = embeddings.select(
        F.col(id_col).alias("vec_id"), _project(F.col(vec_col)).alias("o")
    )
    return out.select(
        "vec_id",
        F.col("o.proj").alias("proj"),
        # the EFFECTIVE rank (pca_fit truncates past min(rows, dims)),
        # so `k` always equals len(proj)
        F.lit(len(comps)).alias("k"),
        F.col("o.bessel_ok").alias("bessel_ok"),
    )


def knn_batch_sq8(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    sample_cap: int = 4096,
) -> DataFrame:
    """SQ8 approximate kNN — the scalar-quantization sibling of
    knn_batch_pq: corpus vectors quantize to one byte/dim against
    per-dim [lo, hi] ranges (fit on the bounded sample, codes clamp so
    out-of-range tails only lose precision), and the approximate score
    decomposes as const_q + codes @ (q ⊙ width/256) — ONE uint8 matmul
    per Arrow batch. Top-`rerank` candidates per query re-rank with
    exact cosine → (qid, rank, vec_id, score).

    vs PQ: SQ8 keeps d bytes/vector (PQ keeps m) but needs no codebook
    k-means and loses far less precision per dim — the usual first
    rung of the compression ladder (float32 → SQ8 → PQ) before recall
    demands re-ranking depth. Same scale shape as knn_batch_pq: ranges
    + queries ride the closure (KBs), scoring is map-only, the shuffle
    carries O(partitions · queries · rerank) candidate rows.

    Recall-gated in pytest + the in-plan ann_recall_stats driver key
    (ranges come from a sample, so values are not SQL-replayable;
    vector_quantize_int8 carries the exact oracle for the same encode).
    """
    sample = _hash_sample(embeddings, id_col, vec_col, 88, sample_cap)
    if len(sample) == 0:
        raise ValueError("knn_batch_sq8: empty embeddings corpus")
    sx = _l2_normalize_rows(sample)
    lo = sx.min(axis=0)
    width = sx.max(axis=0) - lo
    width[width == 0] = 1.0

    qids, qx = _unit_queries(queries, qid_col, qvec_col, "knn_batch_sq8")
    w_q = qx * (width / 256.0)          # [nq, d] code weights
    const_q = qx @ (lo + width / 512.0)  # dequant offset, rank-neutral

    def approx(x):
        codes = np.clip(
            np.floor((_l2_normalize_rows(x) - lo) * 256.0 / width),
            0, 255,
        )
        return (codes @ w_q.T + const_q).T  # [nq, nb]

    cand = _batch_candidates(embeddings, qids, rerank, approx, id_col, vec_col)
    return _exact_rerank(
        cand, embeddings, queries, k, rerank,
        id_col, vec_col, qid_col, qvec_col,
    )


def hybrid_search_rrf_batch(
    documents: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    n_candidates: int = 50,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    qid_col: str = "qid",
    qtext_col: str = "query",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Batch hybrid retrieval: RRF-fuse the lexical and vector legs for
    a whole QUERY TABLE (qid, query, qvec) in one plan → per query the
    top-k (qid, doc_id, bm25_rank, vec_rank, rrf_score).

    The offline-evaluation counterpart of hybrid_search_rrf, composed
    from the batch legs: bm25_search_batch shares one posting
    aggregation across all queries; knn_batch broadcasts the query
    vectors and scores map-side. Fusion joins two <= n_candidates-per-
    query rank lists on (qid, doc_id) — driver-scale rows per query
    regardless of corpus size.
    """
    from data_pipeline2_spark.operators.textanalysis import bm25_search_batch

    bm = bm25_search_batch(
        documents,
        queries.select(F.col(qid_col).alias("qid"),
                       F.col(qtext_col).alias("query")),
        k=n_candidates,
        id_col=id_col,
        with_rank=True,
    )
    bm_r = bm.select("qid", "doc_id", F.col("rank").alias("bm25_rank"))
    vec = knn_batch(
        embeddings,
        queries.select(F.col(qid_col).alias("qid"),
                       F.col(qvec_col).alias("qvec")),
        k=n_candidates,
        id_col=vec_id_col,
    )
    vec_r = vec.select(
        "qid",
        F.col(vec_id_col).alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    fused = _rrf_fuse(bm_r, vec_r, ["qid", "doc_id"], rrf_k)
    return (
        _top_k(fused, "qid", "doc_id", k, "rrf_score", "__rn")
        .drop("__rn")
        .orderBy("qid", F.desc("rrf_score"), "doc_id")
    )


# ---------------------------------------------------------------- retrieval
# quality evaluation (round 6)


def retrieval_eval(
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval-quality metrics for the similarity stack: recall@k and
    MRR@k of exact cosine top-k against label ground truth.

    One query per label (the lowest-id vector of that label, so the
    query set is seed-free and reproducible); candidates are the whole
    corpus minus the query vector itself; a candidate is relevant iff it
    shares the query's label. Metrics per query:

      hits_at_k      relevant candidates in the top k
      recall_at_k    hits / total relevant in the corpus
      first_rel_rank rank of the first relevant hit within top k (0 = none)
      mrr_at_k       1 / first_rel_rank (0 when no hit in top k)

    Physical shape = knn_batch: the query set broadcasts, scoring is
    map-side over the corpus with zero corpus shuffle, and the only
    exchanges are the per-qid top-k window plus the label-count
    broadcast join. This is the evaluation harness you run BEFORE
    swapping the exact scorer for an ANN path (LSH/IVF/PQ keys) — the
    same call with the ANN candidates substituted measures the recall
    the approximation costs.

    → (qid, qlabel, n_relevant, hits_at_k, recall_at_k,
       first_rel_rank, mrr_at_k)
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    queries = _label_queries(embeddings, id_col, vec_col, label_col)
    scored = (
        with_norm(embeddings, vec_col, "__vn")
        .crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            F.col(id_col),
            (F.col(label_col) == F.col("qlabel")).cast("int").alias("rel"),
            _score(vec_col, "qvec"),
        )
    )
    topk = _top_k(scored, "qid", id_col, k)
    per_q = topk.groupBy("qid", "qlabel").agg(
        F.sum("rel").cast("long").alias("hits_at_k"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("__frr"),
    )
    rel_counts = embeddings.groupBy(F.col(label_col).alias("qlabel")).agg(
        (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("n_relevant")
    )
    return per_q.join(F.broadcast(rel_counts), "qlabel").select(
        "qid",
        "qlabel",
        "n_relevant",
        "hits_at_k",
        F.round(
            F.col("hits_at_k") / F.greatest(F.col("n_relevant"), F.lit(1)), 6
        ).alias("recall_at_k"),
        F.coalesce(F.col("__frr"), F.lit(0)).cast("int").alias(
            "first_rel_rank"
        ),
        F.round(
            F.when(
                F.col("__frr").isNotNull(), F.lit(1.0) / F.col("__frr")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mrr_at_k"),
    )


def topic_cluster_terms(
    embeddings: DataFrame,
    docs: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    top_n: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus topic summary: cluster documents by embedding (the
    deterministic distributed k-means), then surface each cluster's
    top-n most DISTINCTIVE terms by lift — (term freq within cluster) /
    (term freq corpus-wide) — rather than raw counts, which stopword-
    heavy corpora would dominate.

    The composition pattern for corpus exploration at scale: the
    k-means fit is O(k·dim) driver state per round, cluster-term
    counting is two hash aggs over exploded tokens, the global token
    table joins back broadcast (vocabulary-sized), and the per-cluster
    top-n is a window over (cluster, term) aggregates — nothing holds
    document text after tokenization. Ranking uses the ROUNDED lift so
    cross-engine ulp noise cannot flip ties (the kmeans argmin
    convention), with (count desc, term) as the total tie order.

    → (cluster, rank, w, cnt, lift)
    """
    from data_pipeline2_spark.operators.textanalysis import _terms

    if k < 1 or n_iter < 0 or top_n < 1:
        raise ValueError(
            f"need k >= 1, n_iter >= 0, top_n >= 1; "
            f"got ({k}, {n_iter}, {top_n})"
        )
    cents, assign = _kmeans_trajectory(embeddings, k, n_iter, id_col, vec_col)
    assigned = assign(cents).select(
        F.col("_id").alias("__vid"), "cluster"
    )
    toks = _terms(
        docs.filter(F.col(text_col).isNotNull()).join(
            assigned, F.col(doc_id_col) == F.col("__vid")
        ),
        text_col,
        "cluster",
    )
    # ALL totals derive from the (cluster, w) count table rather than
    # re-aggregating the raw token stream (Σ per-(cluster,w) counts ==
    # direct counts, so values are unchanged). r13: cw MATERIALIZES
    # once — plan-audited, the three rollup branches shared no
    # exchange (reused=0), so each total re-ran the full join+explode
    # corpus pass; with the vocabulary-sized checkpoint the corpus
    # tokenizes ONCE and ctot/wtot/gtot are trivial aggregates over
    # it. (r12 measured an eager checkpoint slower; re-measured r13
    # same-window: 3.7 -> 3.4-3.6 s and 27 -> 22 jobs at sf0.01 —
    # bench-neutral, but 4 corpus explode passes -> 1 is the
    # scale-dominant term and the reason the checkpoint stays.)
    cw = (
        toks.groupBy("cluster", F.col("term").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(materialize)
    )
    ctot = cw.groupBy("cluster").agg(F.sum("cnt").alias("ct"))
    wtot = cw.groupBy("w").agg(F.sum("cnt").alias("wt"))
    gtot = cw.agg(F.sum("cnt").alias("gt"))
    lift = F.round(
        (F.col("cnt") / F.col("ct")) / (F.col("wt") / F.col("gt")), 6
    )
    scored = (
        cw.join(F.broadcast(ctot), "cluster")
        .join(F.broadcast(wtot), "w")
        .crossJoin(F.broadcast(gtot))
        .select("cluster", "w", "cnt", lift.alias("lift"))
    )
    w_rank = Window.partitionBy("cluster").orderBy(
        F.desc("lift"), F.desc("cnt"), F.col("w")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top_n)
        .select(
            F.col("cluster").cast("int"),
            F.col("rank").cast("int"),
            "w",
            "cnt",
            "lift",
        )
    )


def sparse_cosine_topk(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: float = 1.0,
    df_cap_abs: int | None = None,
) -> DataFrame:
    """Doc-doc similarity without embeddings: term-frequency cosine via
    the inverted-index self-join → top-k neighbors per document.

    The sparse complement to knn_batch: dot products accumulate as
    EXACT integer Σ tf_a·tf_b over shared terms (associative — no float
    sum anywhere until the final norm division), norms come from exact
    Σ tf² integers, so the score is engine-portable to the last ulp
    before rounding. TF (not TF-IDF) weighting keeps the arithmetic
    integer-exact; IDF reweighting slots in via the floor-integerized
    log idiom with the identical plan.

    Scale: the pair blow-up lives entirely in the posting-list join —
    a term in d documents contributes d² pairs, so `df_cap` (fraction
    of docs a term may appear in before it is dropped from the index,
    the classic stopword prune) is the knob that keeps the join
    near-linear on natural vocabularies. Candidate pairs shuffle as
    (id_a, id_b, int) triples; text never leaves the tf stage.

    → (doc_a, rank, doc_b, score)
    """
    from data_pipeline2_spark.operators.textanalysis import _postings, _terms

    if k < 1 or not (0.0 < df_cap <= 1.0):
        raise ValueError(
            f"need k >= 1 and 0 < df_cap <= 1; got ({k}, {df_cap})"
        )
    base = docs.filter(F.col(text_col).isNotNull())
    tf = _postings(
        _terms(base, text_col, F.col(id_col).alias("doc_id"))
    ).select(F.col("doc_id").alias("doc"), F.col("term").alias("w"), "tf")
    if df_cap < 1.0 or df_cap_abs is not None:
        # the effective cap is min(n·frac, abs): a RELATIVE cap alone
        # is structurally toothless over heterogeneous sub-corpora —
        # the x10 scale run proved it (disjoint per-shard vocabularies:
        # no term reaches 10% of the merged corpus, yet per-shard
        # stopwords with df ~ shard size drove the posting join to
        # 3633x shuffle). scikit's max_df int/float duality, for the
        # same reason.
        n_docs = base.select(
            F.count(F.lit(1)).alias("__n")
        )
        bound = F.col("__n") * F.lit(df_cap)
        if df_cap_abs is not None:
            bound = F.least(bound, F.lit(float(df_cap_abs)))
        dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("__df"))
        keep = dfreq.crossJoin(F.broadcast(n_docs)).filter(
            F.col("__df") <= bound
        )
        tf = tf.join(keep.select("w"), "w")
    # tf feeds THREE consumers (norms + both posting-join sides) and
    # Spark replicates the tokenize→agg(→prune) subtree into each —
    # eager localCheckpoint materializes it once (dedup.py precedent
    # for multi-consumer subplans)
    tf = tf.transform(materialize)
    norms = tf.groupBy("doc").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("sq")
    )
    a = tf.select(
        F.col("doc").alias("doc_a"), "w", F.col("tf").alias("tf_a")
    )
    b = tf.select(
        F.col("doc").alias("doc_b"), "w", F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    # the dot computation dedups to the half-matrix (a < b); neighbor
    # RANKING needs the full matrix — mirror each pair before the
    # window or every doc but the lowest-id one gets a truncated,
    # mis-ranked neighbor list
    sym = dots.unionByName(
        dots.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "dot",
        )
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("sq").alias("sa"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("sq").alias("sb"))
    scored = (
        sym.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot")
                / (F.sqrt(F.col("sa").cast("double"))
                   * F.sqrt(F.col("sb").cast("double"))),
                SCORE_ROUND,
            ).alias("score"),
        )
    )
    return _top_k(scored, "doc_a", "doc_b", k).select(
        "doc_a", F.col("rank").cast("int"), "doc_b", "score"
    )


def embedding_zscore_outliers(
    embeddings: DataFrame,
    threshold: float = 110.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector standardized outlier score → (vec_id, score,
    outlier): Σ_dims ((v_i − μ_i)/σ_i)² — the diagonal-covariance
    Mahalanobis distance, the embedding-corpus quality gate (encoder
    glitches, truncated vectors, and wrong-normalization batches land
    far in the tail; for a healthy corpus the score concentrates
    around the dimensionality).

    Composes embedding_dim_stats for the per-dimension moments (the
    rounded stats are the shared contract, so the oracle replays the
    identical μ/σ²), broadcasts the dim-sized table back onto the
    exploded vectors, and accumulates per-dimension contributions
    rounded to 12 dp as DECIMAL(28,12) — associative, so the per-vector
    sum is partition-order-free (the bm25 idiom). Zero-variance (dead)
    dimensions contribute 0 rather than dividing by zero.

    `threshold` defaults near dim + 4·sqrt(2·dim) for the 64-dim
    fixtures — the ~4-sigma chi-square tail.
    """
    stats = embedding_dim_stats(embeddings, vec_col=vec_col)
    ex = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.col(vec_col)).alias("pos", "__v"),
    )
    dev = F.col("__v").cast("double") - F.col("mean_v")
    t = F.when(
        F.col("var_v") > 0, F.round(dev * dev / F.col("var_v"), 12)
    ).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    score = F.round(F.sum(t).cast("double"), 6)
    return (
        ex.join(F.broadcast(stats), "pos")
        .groupBy("vec_id")
        .agg(score.alias("score"))
        .select(
            "vec_id",
            "score",
            (F.col("score") > F.lit(float(threshold))).alias("outlier"),
        )
    )


# nDCG@k discount table, computed ONCE in Python and embedded as integer
# literals in BOTH engines (the chi2-critical-table discipline): no
# engine-side log2 enters the parity surface. disc[r] = floor(1e12 /
# log2(r + 1)) for 1-based rank r; cum[j] = sum of the first j discounts
# (cum[0] = 0) drives the closed-form ideal DCG.
_NDCG_SCALE = 1_000_000_000_000


def _ndcg_discounts(k: int) -> tuple[list[int], list[int]]:
    import math

    disc = [
        math.floor(_NDCG_SCALE / math.log2(r + 1)) for r in range(1, k + 1)
    ]
    cum = [0]
    for d in disc:
        cum.append(cum[-1] + d)
    return disc, cum


def retrieval_ndcg(
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Graded-relevance nDCG@k of exact cosine retrieval → (qid, qlabel,
    n_rel2, n_rel1, dcg_scaled, idcg_scaled, ndcg_at_k): the graded
    companion of `retrieval_eval`'s binary recall/MRR (Järvelin &
    Kekäläinen 2002).

    Grades are deterministic from the label ground truth: rel 2 = same
    label as the query, rel 1 = numerically adjacent label (the
    near-miss band an int-labeled corpus gives for free), rel 0
    otherwise; gain = 2^rel − 1 (3/1/0, the standard exponential
    form). DCG = Σ gain(r)·disc(r) over the top k by (score desc, id),
    with disc(r) = floor(1e12 / log2(r+1)) embedded as literals in both
    engines, so dcg_scaled/idcg_scaled are EXACT BIGINTs and the single
    closing division is the only float. Ideal DCG is closed-form from
    the per-query grade counts (rel-2 docs fill the top ranks, then
    rel-1), via the cumulative-discount literal table — no second sort.
    ndcg is NULL when the corpus holds no relevant candidate at all.

    Physical shape = retrieval_eval: queries broadcast (one per label,
    lowest id), scoring map-side, one per-qid top-k window, grade
    counts broadcast back. Corpus never shuffles.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    disc, cum = _ndcg_discounts(k)
    queries = _label_queries(embeddings, id_col, vec_col, label_col)
    rel = (
        F.when(F.col(label_col) == F.col("qlabel"), F.lit(2))
        .when(
            F.abs(F.col(label_col) - F.col("qlabel")) == 1, F.lit(1)
        )
        .otherwise(F.lit(0))
    )
    scored = (
        with_norm(embeddings, vec_col, "__vn")
        .crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            F.col(id_col),
            rel.alias("rel"),
            _score(vec_col, "qvec"),
        )
    )
    disc_arr = F.array(*[F.lit(d) for d in disc])
    gain = (
        F.when(F.col("rel") == 2, F.lit(3))
        .when(F.col("rel") == 1, F.lit(1))
        .otherwise(F.lit(0))
    )
    topk = (
        _top_k(scored, "qid", id_col, k)
        .select(
            "qid",
            "qlabel",
            (
                gain.cast("long")
                * F.element_at(disc_arr, F.col("rank")).cast("long")
            ).alias("__term"),
        )
    )
    per_q = topk.groupBy("qid", "qlabel").agg(
        F.sum("__term").cast("long").alias("dcg_scaled")
    )
    # grade counts are pure LABEL statistics (rel-2 = same-label peers,
    # rel-1 = adjacent-label members), so they come from the
    # label-cardinality table — re-deriving them from `scored` would
    # execute the corpus x queries scoring subtree a second time
    label_counts = (
        embeddings.groupBy(F.col(label_col).alias("__l"))
        .agg(F.count(F.lit(1)).alias("__lc"))
        .transform(materialize)
    )
    lc = lambda name: label_counts.select(  # noqa: E731
        F.col("__l").alias(f"__l_{name}"), F.col("__lc").alias(name)
    )
    grade_counts = (
        queries.join(
            F.broadcast(lc("c_same")),
            F.col("qlabel") == F.col("__l_c_same"),
            "left",
        )
        .join(
            F.broadcast(lc("c_lo")),
            F.col("qlabel") - 1 == F.col("__l_c_lo"),
            "left",
        )
        .join(
            F.broadcast(lc("c_hi")),
            F.col("qlabel") + 1 == F.col("__l_c_hi"),
            "left",
        )
        .select(
            "qid",
            (F.coalesce(F.col("c_same"), F.lit(1)) - 1).alias("n_rel2"),
            (
                F.coalesce(F.col("c_lo"), F.lit(0))
                + F.coalesce(F.col("c_hi"), F.lit(0))
            ).alias("n_rel1"),
        )
    )
    cum_arr = F.array(*[F.lit(c) for c in cum])
    i2 = F.least(F.col("n_rel2"), F.lit(k))
    i21 = F.least(F.col("n_rel2") + F.col("n_rel1"), F.lit(k))
    cum2 = F.element_at(cum_arr, (i2 + 1).cast("int")).cast("long")
    cum21 = F.element_at(cum_arr, (i21 + 1).cast("int")).cast("long")
    idcg = (F.lit(3).cast("long") * cum2 + (cum21 - cum2)).alias(
        "idcg_scaled"
    )
    return (
        per_q.join(F.broadcast(grade_counts), "qid")
        .select(
            "qid",
            "qlabel",
            F.col("n_rel2").cast("long").alias("n_rel2"),
            F.col("n_rel1").cast("long").alias("n_rel1"),
            "dcg_scaled",
            idcg,
        )
        .select(
            "*",
            F.round(
                F.when(
                    F.col("idcg_scaled") > 0,
                    F.col("dcg_scaled") / F.col("idcg_scaled"),
                ),
                6,
            ).alias("ndcg_at_k"),
        )
    )
