"""Dedup + similarity behavior on synthetic near/exact duplicates
(the testdata corpus has none at small SF, so these tests construct
them) and kNN sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline2_spark.operators import dedup, similarity
from data_pipeline2_spark.operators.embedding import hash_embed_one

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the afternoon sun light"
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE.replace("afternoon", "morning")),  # near dup of 1
        (4, "completely different content about spark query engines and "
            "columnar execution with vectorized readers at scale"),
        (5, "  " + BASE + "  "),  # whitespace-variant → exact after normalize
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_groups(spark, dup_docs):
    out = dedup.dedup_exact(dup_docs).toPandas()
    groups = {r.keep_id: r.dup_count for r in out.itertuples()}
    assert groups[1] == 3  # docs 1, 2, 5 normalize identically
    assert groups[3] == 1 and groups[4] == 1


def test_dedup_exact_drop_keeps_min(spark, dup_docs):
    out = dedup.dedup_exact_drop(dup_docs).toPandas()
    assert set(out.doc_id) == {1, 3, 4}


def test_minhash_finds_near_dups(spark, dup_docs):
    pairs = dedup.dedup_near_minhash(dup_docs, threshold=0.3).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs.doc_a, pairs.doc_b)}
    assert (1, 2) in found  # exact dups always collide
    assert (1, 3) in found  # one-word change → high jaccard
    assert all(4 not in p for p in found)  # unrelated doc never pairs
    j = dict(zip(zip(pairs.doc_a, pairs.doc_b), pairs.jaccard))
    assert j[(1, 2)] == 1.0


def test_ngram_jaccard_exact_ground_truth(spark, dup_docs):
    pairs = dedup.dedup_ngram_jaccard(dup_docs, threshold=0.3).toPandas()
    j = {tuple(sorted((a, b))): v for a, b, v in zip(pairs.doc_a, pairs.doc_b, pairs.jaccard)}
    assert j[(1, 2)] == 1.0 and j[(1, 5)] == 1.0 and j[(2, 5)] == 1.0
    assert 0.3 <= j[(1, 3)] < 1.0  # one-word change: high but not full overlap
    assert all(4 not in p for p in j)
    # exact pass is a recall superset of the LSH pass at the same threshold
    lsh = dedup.dedup_near_minhash(dup_docs, threshold=0.3).toPandas()
    lsh_pairs = {tuple(sorted((a, b))) for a, b in zip(lsh.doc_a, lsh.doc_b)}
    assert lsh_pairs <= set(j)


def test_ngram_jaccard_max_df_caps_candidates(spark, dup_docs):
    # every shared shingle of the dup group has df >= 2, so max_df=1
    # generates zero candidate pairs — scores would still be exact if any
    # candidate survived (verification ignores max_df)
    out = dedup.dedup_ngram_jaccard(dup_docs, threshold=0.3, max_df=1).toPandas()
    assert len(out) == 0
    # a permissive cap changes nothing vs the exact pass
    capped = dedup.dedup_ngram_jaccard(dup_docs, threshold=0.3, max_df=100).toPandas()
    exact = dedup.dedup_ngram_jaccard(dup_docs, threshold=0.3).toPandas()
    key = lambda df: {tuple(sorted((a, b))): v for a, b, v in zip(df.doc_a, df.doc_b, df.jaccard)}
    assert key(capped) == key(exact)


def test_simhash_identical_and_near(spark, dup_docs):
    out = {r.doc_id: r.simhash for r in dedup.simhash64(dup_docs).collect()}
    assert out[1] == out[2]
    mask = (1 << 64) - 1  # hashes are signed 64-bit patterns
    ham_near = bin((out[1] ^ out[3]) & mask).count("1")
    ham_far = bin((out[1] ^ out[4]) & mask).count("1")
    assert ham_near < ham_far


def test_knn_self_is_nearest(spark):
    rows = [(i, hash_embed_one(f"doc {i}", 16), i % 2) for i in range(20)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.knn_cosine(emb, hash_embed_one("doc 7", 16), k=3).collect()
    assert out[0]["vec_id"] == 7
    assert out[0]["score"] == pytest.approx(1.0, abs=1e-5)


def test_knn_filter_applied_before_topk(spark):
    rows = [(i, hash_embed_one(f"doc {i}", 16), i % 2) for i in range(20)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.knn_cosine(
        emb, hash_embed_one("doc 7", 16), k=5, filter_col="label", filter_value=0
    ).toPandas()
    assert 7 not in set(out.vec_id)  # label 1 filtered out
    assert len(out) == 5


def test_knn_batch_lsh_recall_on_self(spark):
    rows = [(i, hash_embed_one(f"doc {i}", 32), 0) for i in range(50)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = similarity.knn_batch_lsh(emb, queries, k=1, dim=32, n_planes=4).toPandas()
    # self always lands in its own bucket → rank-1 hit is the query itself
    top1 = dict(zip(out[out["rank"] == 1].qid, out[out["rank"] == 1].vec_id))
    assert top1 == {i: i for i in range(5)}


def test_dedup_clusters_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 1)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.cluster_id for r in
           __import__("data_pipeline2_spark.operators.dedup", fromlist=["dedup"])
           .dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 1, 7: 7, 8: 7}


def test_dedup_clusters_long_chain(spark):
    # 40-hop chain: one-hop-per-round propagation would need 39 rounds;
    # pointer doubling must converge well inside the cap
    from data_pipeline2_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 41)], "doc_a long, doc_b long"
    )
    out = dedup_clusters(pairs).toPandas()
    assert set(out.cluster_id) == {1}
    assert len(out) == 41


def test_dedup_clusters_matches_union_find(spark):
    """Pin the distributed CC against a driver-side union-find oracle
    on the REAL near-dup pair graph (r12: the convergence flag moved
    into the per-round checkpoint plan — labels must stay identical to
    min-reachable-id under any such plan change)."""
    from data_pipeline2_spark.operators.dedup import (
        dedup_clusters,
        dedup_near_minhash,
    )
    from data_pipeline2_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = dedup_near_minhash(docs, threshold=0.5).localCheckpoint(
        eager=True
    )
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == want
    assert len(got) > 0  # the fixture graph is non-trivial


def test_cosine_zero_vector_is_null_not_nan(spark):
    from data_pipeline2_spark.operators.dedup import dedup_near_embedding

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 0.0], 0),  # degenerate: zero norm
        (3, [1.0, 0.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = dedup_near_embedding(emb, threshold=0.9, dim=3).toPandas()
    found = set(zip(pairs.id_a, pairs.id_b))
    assert found == {(1, 3)}  # zero vector never reported as a near-dup


def test_dedup_exact_null_text_passthrough(spark):
    docs = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    out = dedup.dedup_exact_drop(docs).toPandas()
    # null-text docs are not duplicates of each other: both survive
    assert set(out.doc_id) == {1, 3, 4}


# ---------------------------------------------------------------- BM25 /
# hybrid RRF / centroids (ES match + hybrid-search parity surface)


def test_bm25_rare_term_outranks_common(spark):
    from data_pipeline2_spark.operators.textanalysis import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "needle in the stack"),
            (2, "the the the stack stack"),
            (3, "the stack"),
            (4, "completely unrelated words here"),
        ],
        "doc_id long, text string",
    )
    top = bm25_search(docs, ["needle", "the"], k=4).collect()
    # doc 1 holds the only occurrence of the rare term -> max idf -> rank 1
    assert top[0]["doc_id"] == 1
    # doc 4 matches nothing -> absent entirely
    assert all(r["doc_id"] != 4 for r in top)
    # matched_terms counts distinct query terms present
    by_id = {r["doc_id"]: r for r in top}
    assert by_id[1]["matched_terms"] == 2
    assert by_id[2]["matched_terms"] == 1


def test_bm25_tf_saturates(spark):
    from data_pipeline2_spark.operators.textanalysis import bm25_search

    # same dl, increasing tf: score grows but sub-linearly (k1 saturation)
    docs = spark.createDataFrame(
        [
            (1, "x a b c d e f g"),
            (2, "x x b c d e f g"),
            (3, "x x x c d e f g"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["score"] for r in bm25_search(docs, ["x"], k=3).collect()}
    assert rows[1] < rows[2] < rows[3]
    assert (rows[3] - rows[2]) < (rows[2] - rows[1])


def test_hybrid_rrf_fuses_both_legs(spark):
    from data_pipeline2_spark.operators.similarity import hybrid_search_rrf

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha alpha alpha"), (2, "gamma delta")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    out = hybrid_search_rrf(docs, emb, ["alpha"], [1.0, 0.0], k=3).collect()
    by_id = {r["doc_id"]: r for r in out}
    # doc 0: matches lexically AND is the exact vector match -> both ranks set
    assert by_id[0]["bm25_rank"] is not None and by_id[0]["vec_rank"] == 1
    # doc 2: no lexical match, vector-only -> bm25_rank NULL, still fused in
    assert by_id[2]["bm25_rank"] is None and by_id[2]["vec_rank"] == 2
    # two-leg doc 0 beats any single-leg doc
    assert out[0]["doc_id"] == 0
    expected = round(1.0 / (60 + by_id[0]["bm25_rank"]) + 1.0 / 61, 6)
    assert abs(by_id[0]["rrf_score"] - expected) < 1e-9


def test_label_centroids_exact_mean(spark):
    from data_pipeline2_spark.operators.similarity import label_centroids

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 7),
            (1, [0.0, 1.0], 7),
            (2, [2.0, 2.0], 8),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = label_centroids(emb).collect()
    got = {(r["label"], r["pos"]): (r["n"], r["centroid_v"]) for r in rows}
    assert got[(7, 0)] == (2, 0.5)
    assert got[(7, 1)] == (2, 0.5)
    assert got[(8, 0)] == (1, 2.0)
    assert len(rows) == 4


def test_centroid_assign_separable_clusters(spark):
    from data_pipeline2_spark.operators.similarity import centroid_assign

    # two well-separated clusters -> pure diagonal confusion matrix
    rows = [
        (0, [1.0, 0.0, 0.1], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.1], 1),
        (3, [0.1, 0.9, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    conf = {(r["label"], r["pred_label"]): r["n"] for r in centroid_assign(emb).collect()}
    assert conf == {(0, 0): 2, (1, 1): 2}


def test_dedup_representative_keeps_longest_and_singletons(spark):
    from data_pipeline2_spark.operators.dedup import dedup_representative
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 2)],
        "doc_id long, n_chars long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    out = dedup_representative(docs, clusters, rank_cols=[-F.col("n_chars")])
    got = {r["doc_id"]: (r["cluster_id"], r["is_representative"]) for r in out.collect()}
    # longest copy (9 chars) wins; doc_id breaks the 2-vs-3 tie
    assert got[2] == (1, True)
    assert got[1] == (1, False) and got[3] == (1, False)
    # doc 4 has no cluster row -> singleton, self-representative
    assert got[4] == (4, True)


def _bm25_hex(rows):
    return [(r["doc_id"], r["score"].hex(), r["matched_terms"]) for r in rows]


@pytest.mark.driver
@pytest.mark.parametrize(
    "terms",
    [
        ["dup", "vector", "spark"],
        ["the"],
        ["Dup", "DUP", "zzzznotaword"],  # case-folded duplicates + absent
        ["the", "a", "of", "and", "to", "in"],  # stopword-heavy postings
        ["zzzznotaword"],  # no postings at all
    ],
    ids=["dup_vector_spark", "the", "case_folded", "stopwords", "absent"],
)
def test_bm25_indexed_matches_scan(spark, terms):
    from data_pipeline2_spark.operators.textanalysis import (
        bm25_search,
        bm25_search_indexed,
        build_text_index,
    )
    from data_pipeline2_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    scan = bm25_search(docs, terms, k=25).collect()
    probed = bm25_search_indexed(build_text_index(docs), terms, k=25).collect()
    assert _bm25_hex(scan) == _bm25_hex(probed)
    if terms == ["zzzznotaword"]:
        assert scan == []


@pytest.mark.driver
def test_bm25_empty_query_is_a_named_error(spark):
    """An empty term list has no BM25 score: every entry point that
    reaches the shared probe raises one ValueError, not an engine
    internal."""
    from data_pipeline2_spark.operators.similarity import (
        hybrid_search_linear,
        hybrid_search_rrf,
    )
    from data_pipeline2_spark.operators.textanalysis import (
        bm25_search,
        bm25_search_indexed,
        build_text_index,
    )

    docs = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    calls = [
        lambda: bm25_search(docs, []),
        lambda: bm25_search_indexed(build_text_index(docs), []),
        lambda: hybrid_search_rrf(docs, emb, [], [1.0, 0.0]),
        lambda: hybrid_search_linear(docs, emb, [], [1.0, 0.0]),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="query has no terms"):
            call()


def test_minhash_string_build_matches_column_build(spark):
    """The r11 SQL-string construction of the signature aggregate (one
    parse) must be value-identical to the former per-perm Column build
    — the same re-pin the r10 simhash conversion carried. Compared
    row-for-row at sf0.001 over both the signature table and the band
    keys."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import dedup
    from data_pipeline2_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh = dedup.shingle_fingerprints(docs, 3, distinct=False)
    new_sigs = dedup.minhash_signature_cols(sh, 16)
    # the pre-r11 Column-built aggregate, reconstructed verbatim
    a, b = dedup.minhash_coeffs(16)
    hashed = sh.select(
        "doc_id", (F.col("sh64") % F.lit(dedup.MINHASH_P)).alias("__xm")
    )
    old_sigs = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(a[p]) * F.col("__xm") + F.lit(b[p]))
                % F.lit(dedup.MINHASH_P)
            ).alias(f"mh_{p}")
            for p in range(16)
        ]
    )
    assert old_sigs.exceptAll(new_sigs).count() == 0
    assert new_sigs.exceptAll(old_sigs).count() == 0
    # band keys: string-built posexplode vs Column-built array explode
    new_bands = dedup.lsh_band_keys_wide(new_sigs, 16, 4)
    old_bands = old_sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh_{bb * 4 + r}").cast("string")
                                for r in range(4)
                            ],
                        )
                    )
                    for bb in range(4)
                ]
            )
        ).alias("band", "band_key"),
    )
    assert old_bands.exceptAll(new_bands).count() == 0
    assert new_bands.exceptAll(old_bands).count() == 0


def test_incremental_near_dedup_matches_new_against_store(spark):
    from data_pipeline2_spark.operators.dedup import (
        dedup_near_incremental_minhash,
        doc_shingles,
        minhash_signature_cols,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    old = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark joins here ok")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base + " now"),                       # near-dup of old doc 1
            (11, "utterly unrelated fresh text with novel words entirely"),
            (12, base + " now"),                       # new-new dup of 10
        ],
        "doc_id long, text string",
    )
    store = minhash_signature_cols(doc_shingles(old, 3, distinct=False))
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_near_incremental_minhash(new, store, threshold=0.5).collect()
    }
    assert (1, 10) in pairs and pairs[(1, 10)] >= 0.5
    assert (10, 12) in pairs and pairs[(10, 12)] == 1.0
    assert all(11 not in p for p in pairs)
    # old-old pairs are never re-reported
    assert all(a >= 10 or b >= 10 for a, b in pairs)


def test_quantize_roundtrip_error_bound(spark):
    from data_pipeline2_spark.operators.similarity import quantize_embeddings

    emb = spark.createDataFrame(
        [
            (0, [0.5, -0.25, 0.125, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale 0, no div-by-zero
            (2, [-1.0, 1.0, 0.3, -0.7]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    # reconstruction error bounded by scale/2 (+ rounding slack)
    for vid in (0, 2):
        assert out[vid]["max_err"] <= out[vid]["scale"] / 2 + 1e-8
        assert out[vid]["q_absmax_sum"] > 0
    assert out[1]["scale"] == 0.0
    assert out[1]["q_sum"] == 0 and out[1]["max_err"] == 0.0


def test_hard_negatives_excludes_own_label(spark):
    from data_pipeline2_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.05], 0),   # same label as query → must NOT appear
        (2, [0.9, 0.1], 1),     # hard negative (close, other label)
        (3, [0.0, 1.0], 1),     # easy negative
        (4, [0.5, 0.5], 2),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
    )
    out = hard_negatives(emb, q, k=3).collect()
    got = [(r["rank"], r["vec_id"], r["neg_label"]) for r in out]
    assert all(lbl != 0 for _, _, lbl in got)
    # hardest (most similar, different label) ranks first
    assert got[0][1] == 2
    assert [r for r, _, _ in got] == [1, 2, 3]


def test_kmeans_recovers_separated_clusters(spark):
    from data_pipeline2_spark.operators.similarity import kmeans

    rows = [
        (0, [1.0, 0.0, 0.0]), (1, [0.95, 0.02, 0.0]), (2, [1.05, -0.02, 0.01]),
        (3, [0.0, 1.0, 0.0]), (4, [0.02, 0.97, 0.0]), (5, [-0.01, 1.03, 0.02]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans(emb, k=2, n_iter=3).collect()
    sizes = sorted(r["n"] for r in out)
    assert sizes == [3, 3]
    # tight clusters → tiny within-cluster inertia
    assert all(r["inertia"] < 0.05 for r in out)


def test_kmeans_inertia_nonincreasing(spark):
    from data_pipeline2_spark.operators.similarity import kmeans

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def total(n_iter):
        return sum(r["inertia"] for r in kmeans(emb, k=4, n_iter=n_iter).collect())

    # Lloyd's guarantees monotone non-increasing objective
    assert total(3) <= total(1) + 1e-6


def test_near_embedding_lsh_subset_of_exact_with_full_dup_recall(spark):
    """Default (LSH) pairs must be a subset of exact all-pairs at the
    same threshold, and identical vectors must always be found
    (signature collision probability 1 for equal vectors)."""
    from data_pipeline2_spark.operators.dedup import dedup_near_embedding
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # plant an exact duplicate of the first vector under a fresh id
    first = emb.orderBy("vec_id").limit(1)
    clone = first.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
        "label",
    )
    corpus = emb.unionByName(clone)

    approx = dedup_near_embedding(corpus, threshold=0.35)
    exact = dedup_near_embedding(corpus, threshold=0.35, exact=True)
    a = {(r.id_a, r.id_b) for r in approx.collect()}
    e = {(r.id_a, r.id_b) for r in exact.collect()}
    assert a <= e
    dup_pair = next(
        (p for p in e if p[1] - p[0] == 1_000_000), None
    )
    assert dup_pair is not None and dup_pair in a


def test_near_embedding_lsh_wrong_dim_fails_loudly(spark):
    """A dim mismatch must raise at execution, not silently degrade to
    one shared signature bucket (a hidden quadratic scan)."""
    rows = [(i, [float(i), 1.0, 0.0]) for i in range(6)]  # 3-dim vectors
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="dim"):
        dedup.dedup_near_embedding(emb, threshold=0.5, dim=64).collect()


def test_ivf_exact_fit_self_recall_and_probe_consistency(spark):
    """The oracle-checkable IVF: every query's own vector lives in its
    nearest cell, so rank 1 must be the query itself with score 1.0;
    results are a subset of the exact brute-force ranking."""
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = similarity.knn_batch_ivf(
        emb, queries, k=3, n_clusters=8, n_iter=2, n_probe=2
    ).collect()
    top1 = {r.qid: (r.vec_id, r.score) for r in got if r.rank == 1}
    for qid, (vid, score) in top1.items():
        assert vid == qid and abs(score - 1.0) < 1e-6
    exact = similarity.knn_batch(emb, queries, k=50).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    for r in got:
        assert r.vec_id in exact_sets[r.qid]


def test_pq_exact_on_codebook_data(spark):
    """Vectors whose subvectors are drawn from <= n_codes distinct
    values reconstruct EXACTLY: k-means converges to those values and
    every argmin distance is 0."""
    import numpy as np

    from data_pipeline2_spark.operators.similarity import (
        _pq_batch,
        pq_encode,
        pq_fit,
    )

    rng = np.random.RandomState(0)
    # 4 subspaces of dim 2; each subspace uses 3 distinct prototype rows
    protos = rng.randn(4, 3, 2).round(3)
    rows = []
    for i in range(60):
        vec = np.concatenate([protos[j, (i + j) % 3] for j in range(4)])
        rows.append((i, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_fit(emb, m_subvectors=4, n_codes=8, max_iter=40)
    x = np.array([r[1] for r in rows], dtype=np.float64)
    codes, pq_err, mean_err = _pq_batch(x, books)
    # exact up to float32 storage of the embedding column (the sample
    # comes back as float32-rounded values, the probe x is float64)
    assert pq_err.max() < 1e-12
    assert (pq_err <= mean_err).all()
    got = pq_encode(emb, books).collect()
    assert len(got) == 60
    assert all(0 <= c < 8 for r in got for c in r["codes"])
    assert all(len(r["codes"]) == 4 for r in got)


def test_pq_error_shrinks_with_more_codes(spark):
    import numpy as np

    from data_pipeline2_spark.operators.similarity import _pq_batch, pq_fit

    rng = np.random.RandomState(1)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    x = np.array([r[1] for r in rows], dtype=np.float64)
    errs = {}
    for k in (2, 8, 32):
        books = pq_fit(emb, m_subvectors=4, n_codes=k, max_iter=25)
        _, pq_err, _ = _pq_batch(x, books)
        errs[k] = pq_err.mean()
    assert errs[32] < errs[8] < errs[2]


def test_pq_stats_invariants_on_real_table(spark):
    from data_pipeline2_spark.operators.similarity import pq_reconstruct_stats
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = pq_reconstruct_stats(emb).collect()
    assert len(out) == emb.count()
    assert all(r["codes_valid"] and r["within_mean_bound"] for r in out)
    assert all(r["dim"] == 64 and r["m"] == 4 for r in out)


def test_pq_fit_rejects_indivisible_dim(spark):
    import pytest

    from data_pipeline2_spark.operators.similarity import pq_fit

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, m_subvectors=2)


def test_knn_batch_pq_recall_and_self_match(spark):
    """ADC shortlist + exact re-rank: recall@5 against exact knn_batch
    rises with rerank depth, and each query (drawn from the corpus)
    finds itself at rank 1 with cosine 1.0 after the exact re-rank."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r.qid, r.vec_id)
        for r in similarity.knn_batch(emb, q, k=5).collect()
    }

    def recall(rerank):
        rows = similarity.knn_batch_pq(emb, q, k=5, rerank=rerank).collect()
        got = {(r.qid, r.vec_id) for r in rows}
        assert len(got) == len(exact)
        tops = {r.qid: (r.vec_id, r.score) for r in rows if r.rank == 1}
        for qid, (vid, score) in tops.items():
            assert vid == qid and score == 1.0
        return len(exact & got) / len(exact)

    r50, r100 = recall(50), recall(100)
    assert r50 >= 0.6
    assert r100 >= 0.8
    assert r100 >= r50


def test_knn_batch_pq_rejects_empty_queries(spark):
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="empty query batch"):
        similarity.knn_batch_pq(
            emb,
            emb.filter(F.col("vec_id") < 0).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
            ),
        )


def test_knn_batch_pq_respects_custom_column_names(spark):
    """Regression: id_col/qid_col were hardcoded to vec_id/qid in the
    joins and output."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")
    )
    q = emb.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("vec").alias("qv")
    )
    out = similarity.knn_batch_pq(
        emb, q, k=3, rerank=20,
        id_col="doc_id", vec_col="vec", qid_col="query_id", qvec_col="qv",
    )
    assert out.columns == ["query_id", "rank", "doc_id", "score"]
    rows = out.collect()
    assert len(rows) == 9
    assert {r.query_id for r in rows} == {0, 1, 2}


def test_knn_batch_ivfpq_recall_rises_with_probes(spark):
    """IVF-PQ composition: recall@5 vs exact grows with n_probe, and at
    n_probe = n_clusters (no cell pruning) matches the pure-PQ path at
    the same rerank depth."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r.qid, r.vec_id)
        for r in similarity.knn_batch(emb, q, k=5).collect()
    }

    def recall(n_probe, rerank):
        got = {
            (r.qid, r.vec_id)
            for r in similarity.knn_batch_ivfpq(
                emb, q, k=5, n_probe=n_probe, rerank=rerank
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_narrow = recall(2, 100)
    r_all = recall(8, 100)  # n_probe == n_clusters: no pruning
    assert r_all >= r_narrow
    assert r_all >= 0.8
    # with no cell pruning AND the same codebook seed, IVF-PQ reduces
    # exactly to the pure-PQ path (knn_batch_pq uses pq_fit's default
    # seed=7; the coarse-centroid seed is irrelevant at full probe)
    ivfpq_seed7 = {
        (r.qid, r.vec_id)
        for r in similarity.knn_batch_ivfpq(
            emb, q, k=5, n_probe=8, rerank=100, seed=7
        ).collect()
    }
    pq_all = {
        (r.qid, r.vec_id)
        for r in similarity.knn_batch_pq(emb, q, k=5, rerank=100).collect()
    }
    assert ivfpq_seed7 == pq_all


def test_knn_batch_ivfpq_rejects_empty_queries(spark):
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="empty query batch"):
        similarity.knn_batch_ivfpq(
            emb,
            emb.filter(F.col("vec_id") < 0).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
            ),
        )


def test_ann_recall_stats_gates_correctly(spark):
    """recall_ok must be true when the ANN result IS the exact top-k,
    false when the ANN path degenerates (returns the worst-k), and the
    per-query row set must cover every query."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = similarity.knn_batch(emb, q, k=5)
    rows = similarity.ann_recall_stats(emb, q, exact, k=5, threshold=1.0).collect()
    assert {r.qid for r in rows} == {0, 1, 2, 3}
    assert all(r.recall_ok and r.k == 5 for r in rows)

    # adversarial ANN: bottom-5 by score — zero overlap with the top-5
    from pyspark.sql.window import Window

    from data_pipeline2_spark.functions.vectors import cosine_similarity

    scored = emb.crossJoin(F.broadcast(q)).select(
        "qid", "vec_id",
        cosine_similarity(F.col("embedding"), F.col("qvec")).alias("s"),
    )
    w = Window.partitionBy("qid").orderBy(F.asc("s"), F.col("vec_id"))
    worst = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "rank", "vec_id", F.col("s").alias("score"))
    )
    bad = similarity.ann_recall_stats(emb, q, worst, k=5, threshold=0.2).collect()
    assert all(not r.recall_ok for r in bad)


def test_duplicate_ngram_spans_finds_shared_spans(spark):
    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    rows = [
        (1, f"intro words {span} trailing one"),
        (2, f"other opening {span} different tail"),
        (3, "no shared content in this document at all whatsoever here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.duplicate_ngram_spans(docs, n=8, min_docs=2).toPandas()
    assert span in set(out.gram)
    row = out[out.gram == span].iloc[0]
    assert row.n_docs == 2 and row.n_occurrences == 2
    # nothing from the unshared doc
    assert all("whatsoever" not in g for g in out.gram)


def test_near_dup_stats_counts(spark, dup_docs):
    out = dedup.near_dup_stats(dup_docs, threshold=0.3).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r.n_docs == 5
    # docs 1,2,5 are exact dups (3 pairs) and doc 3 is a near dup of them
    assert r.n_dup_pairs >= 3
    assert r.n_dup_docs >= 3
    assert abs(r.dup_doc_fraction - r.n_dup_docs / r.n_docs) < 1e-9


def test_mmr_rerank_diversifies(spark):
    import numpy as np

    # q = e1; a = best hit (off the query axis, so redundancy != relevance);
    # b = near-duplicate of a; c = diverse, less relevant. At lam=0.3 the
    # diversity penalty must put c ahead of b at rank 2; at lam=1.0 MMR
    # reduces to plain relevance order (a, b, c).
    def n(v):
        v = np.asarray(v, dtype=float)
        return [float(x) for x in v / np.linalg.norm(v)]

    emb = spark.createDataFrame(
        [
            (1, n([0.95, 0.312])),   # a: rel ~0.95
            (2, n([0.93, 0.368])),   # b: rel ~0.93, sim(a,b) ~0.998
            (3, n([0.30, 0.954])),   # c: rel ~0.30, sim(a,c) ~0.58
            (4, n([-1.0, 0.1])),     # irrelevant
        ],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame([(0, n([1.0, 0.0]))], "qid long, qvec array<float>")
    picks = {
        r.rank: r.vec_id
        for r in similarity.mmr_rerank(emb, q, k=3, pool=3, lam=0.3).collect()
    }
    assert picks[1] == 1          # top-1 is always the best hit
    assert picks[2] == 3          # diversity beats the near-dup
    plain = {
        r.rank: r.vec_id
        for r in similarity.mmr_rerank(emb, q, k=3, pool=4, lam=1.0).collect()
    }
    assert [plain[i] for i in (1, 2, 3)] == [1, 2, 3]  # pure relevance

    inv = similarity.mmr_invariants(emb, q, k=3, pool=3, lam=0.3).collect()
    assert len(inv) == 1 and inv[0].first_is_top1 and inv[0].all_in_pool
    assert inv[0].k_distinct


def test_incremental_rejects_legacy_hex_store(spark):
    """A signature store from the pre-round-4 hex-slice family must fail
    loudly (type guard), not silently match nothing after union coercion."""
    from data_pipeline2_spark.operators.dedup import (
        dedup_near_incremental_minhash,
    )

    legacy = spark.createDataFrame(
        [(1, *["0a1b2c3d"] * 16)],
        "doc_id long, " + ", ".join(f"mh_{p} string" for p in range(16)),
    )
    new = spark.createDataFrame([(2, "some text here for shingles")],
                                "doc_id long, text string")
    with pytest.raises(ValueError, match="legacy hex-slice"):
        dedup_near_incremental_minhash(new, legacy)


def test_ann_recall_stats_ignores_duplicate_hits(spark):
    """A degenerate ANN result that repeats ONE correct id k times must
    not pass the gate: overlap counts DISTINCT recovered ids."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    top1 = similarity.knn_batch(emb, q, k=1)
    dup = top1
    for _ in range(4):  # same correct id 5 times per query
        dup = dup.unionByName(top1)
    out = similarity.ann_recall_stats(emb, q, dup, k=5, threshold=0.8).collect()
    assert all(not r.recall_ok for r in out)


def test_pagerank_hub_ranks_highest(spark):
    """On a star graph the hub must out-rank the leaves, ranks must sum
    to ~1 (stochastic), and a symmetric pair must tie exactly."""
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 6)], "doc_a long, doc_b long"
    )
    out = {r.node: r.pagerank for r in dedup.pagerank_pairs(star).collect()}
    assert out[1] > max(out[2], out[3], out[4])
    assert out[2] == out[3] == out[4]  # symmetric leaves tie exactly
    assert out[5] == out[6]            # isolated pair ties
    assert abs(sum(out.values()) - 1.0) < 1e-4


def test_mmr_rerank_respects_custom_id_types(spark):
    """The applyInPandas schema derives from the input dtypes — string
    ids must survive end-to-end (regression: schema was hardcoded to
    long)."""
    import numpy as np

    def n(v):
        v = np.asarray(v, dtype=float)
        return [float(x) for x in v / np.linalg.norm(v)]

    emb = spark.createDataFrame(
        [("a", n([1.0, 0.1])), ("b", n([0.9, 0.3])), ("c", n([0.1, 1.0]))],
        "vec_id string, embedding array<float>",
    )
    q = spark.createDataFrame(
        [("q1", n([1.0, 0.0]))], "qid string, qvec array<float>"
    )
    out = similarity.mmr_rerank(emb, q, k=2, pool=3, lam=0.5).collect()
    assert [r.vec_id for r in sorted(out, key=lambda r: r.rank)][0] == "a"
    assert all(isinstance(r.qid, str) for r in out)


def test_knn_batch_sq8_recall_and_self_match(spark):
    """SQ8 shortlist + exact re-rank: with 1 byte/dim the approximate
    ranking should beat PQ's at the same rerank depth; each corpus-drawn
    query finds itself at rank 1 with cosine 1.0."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r.qid, r.vec_id)
        for r in similarity.knn_batch(emb, q, k=5).collect()
    }
    rows = similarity.knn_batch_sq8(emb, q, k=5, rerank=50).collect()
    got = {(r.qid, r.vec_id) for r in rows}
    assert len(got) == len(exact)
    tops = {r.qid: (r.vec_id, r.score) for r in rows if r.rank == 1}
    for qid, (vid, score) in tops.items():
        assert vid == qid and score == 1.0
    assert len(exact & got) / len(exact) >= 0.8  # 8-bit/dim: high recall


def test_bm25_batch_matches_single_query(spark):
    """Each query's batch result must equal the single-query operator's
    ranking for the same terms (shared postings change the plan, not
    the scores)."""
    from data_pipeline2_spark.operators import textanalysis
    from data_pipeline2_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    queries = spark.createDataFrame(
        [(1, "hash join strategy"), (2, "slow scan filter")],
        "qid int, query string",
    )
    batch = textanalysis.bm25_search_batch(docs, queries, k=5).collect()
    for qid, qtext in [(1, "hash join strategy"), (2, "slow scan filter")]:
        single = textanalysis.bm25_search(docs, qtext.split(), k=5).collect()
        got = [(r.doc_id, r.score) for r in batch if r.qid == qid]
        want = [(r.doc_id, r.score) for r in single]
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 2e-6  # decimal-sum vs fixed-order sum


def test_lsh_eval_structural_precision_and_recall(spark):
    """Both arms verify candidates with the same exact predicate, so
    precision is structurally 1.0 (LSH pairs ⊆ exact pairs) and recall
    measures candidate generation only."""
    from data_pipeline2_spark.operators.dedup import lsh_eval

    body = "alpha beta gamma delta epsilon zeta eta theta " * 5
    docs = spark.createDataFrame(
        [(1, body), (2, body + "tail"), (3, "unrelated words only here"),
         (4, body + "other end"), (5, "more distinct text entirely now")],
        "doc_id long, text string",
    )
    r = lsh_eval(docs).collect()[0]
    assert r.precision == 1.0
    assert 0.0 <= r.recall <= 1.0
    assert r.n_common <= min(r.n_exact_pairs, r.n_lsh_pairs)
    assert r.n_exact_pairs >= 3  # the three near-identical docs pair up


def test_hybrid_batch_matches_single_query(spark):
    """Per-qid batch fusion must equal the single-query hybrid for the
    same (terms, vector)."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv_rows = {r.vec_id: r.embedding
               for r in emb.filter(F.col("vec_id") < 2).collect()}
    texts = {0: "hash join strategy", 1: "slow scan filter"}
    queries = spark.createDataFrame(
        [(q, texts[q], qv_rows[q]) for q in (0, 1)],
        "qid long, query string, qvec array<float>",
    )
    batch = similarity.hybrid_search_rrf_batch(docs, emb, queries, k=5).collect()
    for q in (0, 1):
        single = similarity.hybrid_search_rrf(
            docs, emb, texts[q].split(), qv_rows[q], k=5
        ).collect()
        got = [(r.doc_id, r.rrf_score) for r in batch if r.qid == q]
        want = [(r.doc_id, r.rrf_score) for r in single]
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 2e-6


def test_lsh_tuning_curve_shape(spark):
    """S-curve sanity: monotone in jaccard; at the 0.5 operating point
    the shipped 16-perm/2-row banding (8 bands) must give high
    candidate probability (the r2->r3 retune rationale)."""
    from data_pipeline2_spark.operators.dedup import lsh_tuning_curve

    rows = lsh_tuning_curve(spark).collect()
    cur = {(r.n_perm, r.band_size, round(r.jaccard, 2)): r.p_candidate
           for r in rows}
    shipped = [cur[(16, 2, round(0.05 * i, 2))] for i in range(1, 20)]
    assert all(a <= b + 1e-12 for a, b in zip(shipped, shipped[1:]))
    assert cur[(16, 2, 0.5)] > 0.85     # shipped banding at threshold
    assert cur[(16, 4, 0.5)] < 0.25     # the rejected 4x4 S-curve


def test_simhash64_packed_lanes_match_naive_formulation(spark):
    """The packed-lane accumulation (two 32-bit lanes per long, 32 sum
    columns) must be BIT-IDENTICAL to the textbook 64-column ±1-sum
    SimHash it replaced for speed (BENCH_NOTES round 9b) — including on
    single-token docs (all-ties: 2·count > n fails at count=n=1 only
    when the bit is 0) and near-tie majorities."""
    from pyspark.sql import functions as F

    from data_pipeline2_spark.functions.text import tokens as _tokens

    rows = [
        (1, "alpha beta gamma delta alpha beta alpha"),
        (2, "single"),
        (3, "x y"),                      # every position an exact tie or 1-1
        (4, "alpha beta gamma delta alpha beta alphaz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    toks = docs.select(
        F.col("doc_id"),
        F.explode(_tokens(F.lower(F.col("text")))).alias("tok"),
    )
    md5h = F.md5(F.col("tok"))
    h_lo = F.conv(F.substring(md5h, 1, 8), 16, 10).cast("long")
    h_hi = F.conv(F.substring(md5h, 9, 8), 16, 10).cast("long")
    with_bits = toks.select(
        "doc_id",
        *[
            F.when(
                F.shiftright(h_lo if b < 32 else h_hi, b % 32).bitwiseAND(
                    F.lit(1)
                )
                == 1,
                1,
            )
            .otherwise(-1)
            .alias(f"b{b}")
            for b in range(64)
        ],
    )
    sums = with_bits.groupBy("doc_id").agg(
        *[F.sum(f"b{b}").alias(f"s{b}") for b in range(64)]
    )
    fp = None
    for b in range(64):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1)).otherwise(F.lit(0))
        term = bit * F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
        fp = term if fp is None else fp + term
    naive = {
        r.doc_id: r.simhash
        for r in sums.select("doc_id", fp.alias("simhash")).collect()
    }
    packed = {
        r.doc_id: r.simhash for r in dedup.simhash64(docs).collect()
    }
    assert packed == naive
