"""Round-9 operator tests: the SimHash hot-bucket cap (engagement on a
constructed hot band, exact agreement with a python reference of the
cap rule, plan shape) and the streaming-CDC batch-parity key's
multi-batch merge behavior.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_pipeline2_spark.operators.dedup import simhash_pairs

from .conftest import SF_ORACLE

SF = SF_ORACLE


def _mk(b0: int, b1: int, b2: int, b3: int) -> int:
    """Assemble a signed 64-bit simhash from four 16-bit bands."""
    v = b0 | (b1 << 16) | (b2 << 32) | (b3 << 48)
    return v - (1 << 64) if v >= (1 << 63) else v


def _ref_capped_pairs(hashes, cap, max_hamming=3):
    """Python reference of the cap rule over a list of (id, simhash)."""
    from collections import defaultdict

    buckets = defaultdict(list)
    for did, h in hashes:
        u = h & 0xFFFFFFFFFFFFFFFF
        for k in range(4):
            buckets[(k, (u >> (16 * k)) & 0xFFFF)].append(did)
    pairs = set()
    by_id = dict(hashes)
    for members in buckets.values():
        if len(members) > cap:
            continue
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                x, y = min(a, b), max(a, b)
                ham = bin(
                    (by_id[x] ^ by_id[y]) & 0xFFFFFFFFFFFFFFFF
                ).count("1")
                if ham <= max_hamming:
                    pairs.add((x, y, ham))
    return pairs


# constructed corpus: one HOT band-0 bucket (20 docs share band0=H,
# including in the top band-3 position a sign-bit case), where
#  - docs 0,1 also share a COOL band-1 bucket and sit at hamming 2:
#    the cap must keep them (pair survives via the cool band);
#  - docs 2,3 match ONLY on the hot band at hamming 3: the cap must
#    drop them (the documented degradation);
#  - 16 filler docs pad the hot bucket, pairwise far apart (bands
#    spread by odd-constant multiply).
_H = 0x1234
_HOT_ROWS = [
    (0, _mk(_H, 0x00FF, 0x0001, 0x8001)),
    (1, _mk(_H, 0x00FF, 0x0003, 0x8005)),  # vs 0: band2^=2, band3^=4 → d=2
    (2, _mk(_H, 0x1111, 0x2222, 0x4444)),
    (3, _mk(_H, 0x1110, 0x2223, 0x4445)),  # vs 2: 3 bands differ 1 bit → d=3
] + [
    (i, _mk(_H, (0x9E37 * i) & 0xFFFF, (0x517C * i) & 0xFFFF, (0x2AB5 * i) & 0xFFFF))
    for i in range(4, 20)
]


def test_simhash_bucket_cap_matches_python_reference(spark):
    sh = spark.createDataFrame(_HOT_ROWS, "doc_id long, simhash long")
    got = set(map(tuple, simhash_pairs(sh, bucket_cap=4).collect()))
    want = _ref_capped_pairs(_HOT_ROWS, cap=4)
    assert got == want
    assert (0, 1, 2) in got  # survives via the cool band-1 bucket
    assert not any(p[:2] == (2, 3) for p in got)  # all-hot match dropped
    # and the uncapped arm still finds the all-hot pair
    full = set(map(tuple, simhash_pairs(sh).collect()))
    assert (2, 3, 3) in full
    assert got < full


def test_simhash_bucket_cap_noop_when_no_bucket_is_hot(spark):
    """cap above every bucket size = byte-identical to the uncapped
    (pigeonhole-complete) output, on the real fixture corpus."""
    from data_pipeline2_spark.operators.dedup import simhash64
    from data_pipeline2_spark.sources.parquet import load_table

    sh = simhash64(load_table(spark, SF, "documents"))
    capped = set(
        map(tuple, simhash_pairs(sh, bucket_cap=10**6).collect())
    )
    plain = set(map(tuple, simhash_pairs(sh).collect()))
    assert capped == plain and capped


def test_simhash_bucket_cap_guards(spark):
    sh = spark.createDataFrame(_HOT_ROWS[:3], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="bucket_cap"):
        simhash_pairs(sh, bucket_cap=1)


def test_simhash_bucket_cap_plan_shape(spark):
    """The cap adds a bucket-count aggregate, not a new corpus shuffle
    class: still no cartesian anywhere, and the exchange count grows by
    at most the aggregation's reuse-or-one."""
    sh = spark.createDataFrame(_HOT_ROWS, "doc_id long, simhash long")
    plan = (
        simhash_pairs(sh, bucket_cap=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_drops_exact_copy_keeps_farther_one(spark):
    """Two well-separated clusters; inside one, an exact-copy pair (the
    higher id drops on the distance tie) and a near-dup pair where the
    FARTHER-from-centroid member must be kept (the paper's
    lowest-centroid-similarity rule)."""
    import math

    from data_pipeline2_spark.operators.dedup import semdedup

    def unit(x, y):
        n = math.sqrt(x * x + y * y)
        return [x / n, y / n] + [0.0] * 62

    rows = [
        (0, unit(1.0, 0.0)),
        (1, unit(1.0, 0.02)),   # near-dup of 0/2-group, closer to centroid
        (2, unit(1.0, 0.0)),    # exact copy of 0 → tie, higher id drops
        (3, unit(1.0, 0.35)),   # same cluster, cos < eps vs others: kept
        (10, unit(0.0, 1.0)),   # second cluster
        (11, unit(0.02, 1.0)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semdedup(df, k=2, n_iter=2, eps=0.99).collect()}
    assert len(out) == 6
    # clusters: init = two lowest ids (0, 1) → x-ish vs ... after 2
    # rounds the y-group separates; assert the split, not the labels
    cl = {v: out[v].cluster for v in out}
    assert cl[0] == cl[1] == cl[2] == cl[3]
    assert cl[10] == cl[11] and cl[10] != cl[0]
    assert out[0].kept and not out[2].kept  # exact copy: lower id wins tie
    assert out[3].kept  # below eps vs everyone: untouched
    # 0 vs 1: cos(0,1) > 0.99; the farther-from-centroid one is kept
    da, db = out[0].centroid_dist, out[1].centroid_dist
    farther = 0 if (da, 0) > (db, 1) else 1
    assert out[farther].kept and not out[1 - farther].kept


def test_semdedup_plan_no_cartesian(spark):
    from data_pipeline2_spark.operators.dedup import semdedup
    from data_pipeline2_spark.sources.parquet import load_table

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    plan = (
        semdedup(emb, k=4, n_iter=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_levenshtein_is_codepoint_faithful(spark):
    """The ENGINE's edit distance counts codepoints, not bytes ('é' is
    one edit, not two) — the registry key projects to ASCII only
    because DuckDB's levenshtein is byte-based and can't replay this."""
    df = spark.createDataFrame(
        [("é", ""), ("漢字", "漢"), ("\xa0  　", "")],
        "a string, b string",
    )
    out = [r.d for r in df.select(F.levenshtein("a", "b").alias("d")).collect()]
    assert out == [1, 1, 4]


def test_quality_classifier_learns_the_rule(spark):
    """The distilled scorer must actually separate: docs the rule
    labels good score higher than docs it labels bad, and keep/score
    are NULL (not fabricated) for NULL text."""
    from data_pipeline2_spark.operators import textanalysis as ta

    good = "the quick brown fox jumps over the lazy dog " * 30
    bad = "0123456789 4242 777 " * 25
    rows = [(i, good) for i in range(12)] + [
        (100 + i, bad) for i in range(12)
    ] + [(999, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ta.quality_classifier_score(docs).collect()}
    assert len(out) == 25
    assert out[0].score > out[100].score
    assert out[999].score is None and out[999].keep is None
    w = {r.feature: r.weight for r in ta.quality_classifier_fit(docs).collect()}
    assert set(w) == {"bias", "alpha_ratio", "digit_ratio", "tok_sat", "len_sat"}
    # the rule rewards alphabetic mass and punishes digits: the
    # distilled weights must point the same way
    assert w["alpha_ratio"] > 0 and w["digit_ratio"] < 0


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """Importance weights must order docs by target-likeness: a doc
    written in the target's vocabulary outweighs one written in the
    raw-only vocabulary; weights are exact-integer sums, so repeated
    runs agree bit-for-bit."""
    from data_pipeline2_spark.operators import textanalysis as ta

    tgt_vocab = "alpha beta gamma delta epsilon zeta"
    raw_vocab = "one two three four five six"
    rows = (
        [(i, tgt_vocab) for i in range(10)]
        + [(100 + i, raw_vocab) for i in range(10)]
        + [(200, tgt_vocab + " " + raw_vocab)]  # mixed
        + [(300, None), (301, "   ")]           # no tokens: not emitted
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter(F.col("doc_id") < 10).select("doc_id")
    out = {r.doc_id: r for r in ta.dsir_weights(docs, target).collect()}
    assert 300 not in out and 301 not in out
    assert out[0].dsir_weight > out[200].dsir_weight > out[100].dsir_weight
    assert out[0].selected and not out[100].selected
    again = {
        r.doc_id: r.dsir_weight
        for r in ta.dsir_weights(docs, target).collect()
    }
    assert again == {k: v.dsir_weight for k, v in out.items()}


def test_quality_classifier_empty_corpus_raises(spark):
    from data_pipeline2_spark.operators import textanalysis as ta

    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty corpus"):
        ta.quality_classifier_fit(empty)


def test_no_control_chars_expectation(spark):
    """ASCII whitespace passes; C0 controls outside it (and DEL, and
    NULL text under the unevaluable-fails-loudly rule) violate."""
    from data_pipeline2_spark.operators import expectations as ex

    df = spark.createDataFrame(
        [
            ("clean text",),
            ("tabs\tand\nnewlines\r formfeed\x0c ok",),
            ("bell\x07 bad",),
            ("del\x7f bad",),
            ("\x01leading bad",),
            # VT is whitespace to Java/Python regex but NOT to RE2: no
            # portable tokenization exists, so the gate rules it out
            ("vertical\x0btab bad",),
            (None,),
        ],
        "text string",
    )
    out = ex.check_expectations(df, [ex.no_control_chars("text")]).collect()
    assert len(out) == 1
    assert out[0].violations == 5 and out[0].total == 7 and not out[0].passed


def test_cdc_upsert_stream_multibatch_merge(spark, tmp_path):
    """Three micro-batches through upsert_sink: inserts land, updates
    replace, deletes remove, later batches merge into the accumulated
    table (not just the bootstrap) — checked against hand-computed
    state."""
    import os

    from data_pipeline2_spark.streaming import events as sev

    feed = str(tmp_path / "feed")
    batches = [
        # batch 0: bootstrap inserts
        [(1, 10, "I", 1.0), (2, 10, "I", 2.0), (3, 10, "I", 3.0)],
        # batch 1: update k=1 (two changes, latest ts wins), delete k=2
        [(1, 20, "U", 1.5), (1, 30, "U", 1.7), (2, 20, "D", None)],
        # batch 2: re-insert k=2, delete k=3, new k=4
        [(2, 40, "I", 2.5), (3, 40, "D", None), (4, 40, "I", 4.0)],
    ]
    for rows in batches:
        spark.createDataFrame(
            [(k, float(ts), op, v) for k, ts, op, v in rows],
            "uid long, change_ts double, op string, val double",
        ).coalesce(1).write.mode("append").parquet(feed)
    stream = (
        spark.readStream.schema("uid long, change_ts double, op string, val double")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = sev.upsert_sink(
        stream, str(tmp_path / "table"), str(tmp_path / "ckpt"), ["uid"]
    )
    q.awaitTermination()
    got = {
        r.uid: r.val
        for r in spark.read.parquet(str(tmp_path / "table")).collect()
    }
    assert got == {1: 1.7, 2: 2.5, 4: 4.0}
    assert os.path.exists(str(tmp_path / "table"))
