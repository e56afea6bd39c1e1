"""Round-6 operator tests: boilerplate stripping, unigram LM scoring,
URL canonicalization, containment dedup, leakage-safe splits, IVM,
Z-order locality, and image average-hashing — planted fixtures with
hand-computed expectations."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


# ---------------------------------------------------------------- text


def test_strip_boilerplate_flags_shared_lines_per_source(spark):
    from data_pipeline2_spark.operators.quality import strip_boilerplate_stats

    footer = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha\n{footer}", "s1"),
            (2, f"unique beta\n{footer}\n", "s1"),
            (3, f"{footer}\nunique gamma", "s2"),  # alone in s2: NOT boiler
            (4, "   \n\n", "s1"),  # blank-only doc: no output row
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: r
        for r in strip_boilerplate_stats(docs, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3}
    assert (out[1].n_lines, out[1].n_boiler) == (2, 1)
    assert out[1].chars_kept == len("unique alpha")
    assert out[1].chars_total == len("unique alpha") + len(footer)
    assert (out[2].n_lines, out[2].n_boiler) == (2, 1)
    # same line in a different source is not boilerplate there
    assert (out[3].n_lines, out[3].n_boiler) == (2, 0)
    assert out[3].chars_kept == out[3].chars_total


def test_unigram_logprob_exact_integer_terms(spark):
    from data_pipeline2_spark.operators.quality import (
        _LOGPROB_SCALE,
        unigram_logprob,
    )

    # corpus: "a a b" + "a c" -> counts a=3, b=1, c=1, total=5
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "A c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    t = lambda c: math.floor(math.log(c / 5.0) * _LOGPROB_SCALE)  # noqa: E731
    assert out[1].n_tokens == 3
    assert out[1].logprob_sum_scaled == 2 * t(3) + t(1)
    assert out[2].logprob_sum_scaled == t(3) + t(1)  # lowercased A
    assert out[1].avg_logprob == round(
        (2 * t(3) + t(1)) / _LOGPROB_SCALE / 3, 6
    )


def test_canonicalize_url_variants_collapse(spark):
    from data_pipeline2_spark.operators.quality import canonicalize_url

    rows = spark.createDataFrame(
        [
            ("HTTPS://WWW.Ex.COM/a?utm_source=x&id=7&ref=z#frag",),
            ("https://ex.com/a?id=7",),
            ("https://ex.com/a?id=8",),          # different real param
            ("http://ex.com/plain",),            # nothing to strip
            ("https://ex.com/b?utm_only=1",),    # params strip entirely
        ],
        "url string",
    ).select(canonicalize_url(F.col("url")).alias("c"))
    got = [r.c for r in rows.collect()]
    assert got[0] == "https://ex.com/a?id=7"
    assert got[1] == "https://ex.com/a?id=7"
    assert got[2] == "https://ex.com/a?id=8"
    assert got[3] == "http://ex.com/plain"
    assert got[4] == "https://ex.com/b"


# --------------------------------------------------------------- dedup


def test_containment_pairs_catches_subset_jaccard_misses(spark):
    from data_pipeline2_spark.operators.dedup import (
        containment_pairs,
        shingle_fingerprints,
    )

    short = "w1 w2 w3 w4 w5"  # 3 shingles, all inside long's set
    long_ = short + " x1 x2 x3 x4 x5 x6 x7 x8 x9"  # 12 shingles
    other = "y1 y2 y3 y4"  # 2 shingles, none shared with doc 1
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], "doc_id long, text string"
    )
    sh = shingle_fingerprints(docs).withColumnRenamed("sh64", "shingle")
    cand = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    [r] = containment_pairs(cand, sh, threshold=0.9).collect()
    assert (r.n_a, r.n_b, r.n_inter) == (3, 12, 3)
    assert r.containment_a == 1.0  # fully embedded
    jaccard = r.n_inter / (r.n_a + r.n_b - r.n_inter)
    assert jaccard < 0.5  # the symmetric metric would miss this pair
    # a pair sharing no shingle is dropped even at threshold 0
    [r0] = containment_pairs(cand, sh, threshold=0.0).collect()
    assert (r0.doc_a, r0.doc_b) == (1, 2)


def test_dedup_containment_end_to_end(spark):
    from data_pipeline2_spark.operators.dedup import dedup_containment

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " iota"),  # near-identical: candidate + contained
            (3, "totally different words only here now"),
        ],
        "doc_id long, text string",
    )
    out = dedup_containment(docs, threshold=0.9).collect()
    assert [(r.doc_a, r.doc_b) for r in out] == [(1, 2)]
    assert out[0].containment_a == 1.0


def test_leakage_safe_split_keeps_clusters_together(spark):
    from data_pipeline2_spark.operators.dedup import leakage_safe_split

    # explicit pair graph: {1,2,3} one cluster, {10,11} another,
    # 20/21 singletons
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 20, 21)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    out = leakage_safe_split(docs, pairs=pairs).collect()
    assert all(r.leak_pairs == 0 for r in out)
    assert sum(r.n_docs for r in out) == 7
    assert sum(r.n_clusters for r in out) == 4  # {1,2,3},{10,11},20,21
    # determinism: same salt -> identical assignment on re-run
    again = leakage_safe_split(docs, pairs=pairs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ------------------------------------------------- lake maintenance


def test_ivm_group_agg_matches_recompute_incl_group_migration(spark):
    from data_pipeline2_spark.operators.joins import ivm_group_agg

    # base: key -> (grp, value); the update MOVES key 1 to another grp
    base = spark.createDataFrame(
        [(1, "g1", 100), (2, "g1", 10), (3, "g2", 5)],
        "k long, grp string, v long",
    )
    changes = spark.createDataFrame(
        [
            (1, "U", 1, "g2", 70),   # update + group migration g1 -> g2
            (4, "I", 1, "g2", 9),    # insert
            (2, "D", 1, None, None), # delete
        ],
        "k long, op string, change_ts int, grp string, v int",
    ).select("k", "op", "change_ts", "grp", F.col("v").cast("long").alias("v"))
    out = {
        r.grp: r
        for r in ivm_group_agg(
            base, changes, ["k"], group_col="grp", value_col="v"
        ).collect()
    }
    assert all(r.consistent for r in out.values())
    # g1 lost both rows entirely; g2 = old 5 + moved 70 + inserted 9
    assert "g1" not in out
    assert (out["g2"].n_rows, out["g2"].val_sum) == (3, 84)


def test_zorder_files_are_bounded_squares(spark):
    from data_pipeline2_spark import registry

    out = registry.queries()["zorder_layout"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) > 4
    for r in out:
        # a 64-wide z-range = an aligned 8x8 tile in (user, day) space:
        # both dimensions bounded, which is the whole pruning argument
        assert r.u_hi - r.u_lo <= 7, r
        assert r.d_hi - r.d_lo <= 7, r


# ----------------------------------------------------- multimodal


def test_image_ahash_invariants(spark):
    from data_pipeline2_spark.operators.multimodal import (
        ahash_dup_pairs,
        gif_assets,
        image_ahash,
    )

    ids = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 97, 0 + 97 * 53 * 0)], "doc_id long"
    ).distinct()
    hashes = image_ahash(gif_assets(ids), codec="gif")
    rows = {r.asset_id: r for r in hashes.collect()}
    # hashes are 2x32-bit halves, never negative
    assert all(r.hash_hi >= 0 and r.hash_lo < (1 << 32) for r in rows.values())
    # deterministic: re-decoding yields identical hashes
    again = {r.asset_id: r for r in hashes.collect()}
    assert {k: (v.hash_hi, v.hash_lo) for k, v in rows.items()} == {
        k: (v.hash_hi, v.hash_lo) for k, v in again.items()
    }
    # hamming(a, a) = 0 and pairs are ordered id_a < id_b
    pairs = ahash_dup_pairs(hashes, max_hamming=64, exact=True).collect()
    assert all(p.id_a < p.id_b for p in pairs)
    n = len(rows)
    assert len(pairs) == n * (n - 1) // 2  # <=64 keeps every pair
    # banded default is pigeonhole-COMPLETE within d <= bands-1: the
    # banded pair set at the default threshold equals exact all-pairs
    # filtered to the same threshold, values included
    banded = {
        (p.id_a, p.id_b, p.hamming)
        for p in ahash_dup_pairs(hashes, max_hamming=7).collect()
    }
    exact7 = {
        (p.id_a, p.id_b, p.hamming)
        for p in ahash_dup_pairs(hashes, max_hamming=7, exact=True).collect()
    }
    assert banded == exact7


def test_image_ahash_near_duplicate_images_have_small_hamming(spark):
    import numpy as np

    from data_pipeline2_spark.functions.imagecodec import decode_gif
    from data_pipeline2_spark.operators import multimodal

    # two decodes of the SAME asset id must hash identically end-to-end
    sd = spark.createDataFrame([(5,), (5,)], "doc_id long")
    hashes = multimodal.image_ahash(
        multimodal.gif_assets(sd), codec="gif"
    ).collect()
    assert (hashes[0].hash_hi, hashes[0].hash_lo) == (
        hashes[1].hash_hi,
        hashes[1].hash_lo,
    )
    # sanity vs a direct numpy recompute of the same aHash definition
    from data_pipeline2_spark.functions.imagecodec import make_gif_asset

    arr = decode_gif(make_gif_asset(5))
    red = arr[:, :, 0].astype(np.int64)
    h, w = red.shape
    gx = (np.arange(w) * 8) // w
    gy = (np.arange(h) * 8) // h
    blk = (gy[:, None] * 8 + gx[None, :]).ravel()
    bsum = np.bincount(blk, weights=red.ravel(), minlength=64).astype(np.int64)
    npx = np.bincount(blk, minlength=64).astype(np.int64)
    bits = bsum * (w * h) > int(red.sum()) * npx
    hi = sum(1 << (k - 32) for k in range(32, 64) if bits[k])
    lo = sum(1 << k for k in range(32) if bits[k])
    assert (hashes[0].hash_hi, hashes[0].hash_lo) == (hi, lo)
