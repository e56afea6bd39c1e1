"""Semantic tests for the training-pipeline text operators: PII
redaction on real-looking strings (the testdata corpus has none),
repetition ratio on known-shape docs, decontamination overlap math."""

from __future__ import annotations

import math

import pytest

from data_pipeline2_spark.operators import textanalysis


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pii_redact_each_kind(spark):
    df = _docs(
        spark,
        [
            (1, "mail me at jane.doe+x@example.co.uk today"),
            (2, "server at 10.0.255.7 rebooted"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "ssn 123-45-6789 leaked"),
            (5, "clean text with no pii at all"),
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in textanalysis.pii_redact(df).collect()}
    assert got[1]["text_redacted"] == "mail me at <EMAIL> today"
    assert got[1]["n_email"] == 1
    assert got[2]["text_redacted"] == "server at <IP> rebooted"
    assert got[2]["n_ip"] == 1
    assert "<PHONE>" in got[3]["text_redacted"]
    assert got[3]["n_phone"] == 1
    assert got[4]["text_redacted"] == "ssn <SSN> leaked"
    assert got[4]["n_ssn"] == 1
    assert got[5]["text_redacted"] == "clean text with no pii at all"
    assert all(got[5][k] == 0 for k in ("n_email", "n_ip", "n_phone", "n_ssn"))


def test_pii_phone_shapes_and_count_attribution(spark):
    df = _docs(
        spark,
        [
            (1, "call 555-123-4567 now"),          # plain separated
            (2, "call (555) 123-4567 now"),        # parenthesized area code
            (3, "call 5551234567 now"),            # bare 10-digit
            (4, "order id 92345678901234 shipped"),  # long run: NOT a phone
            (5, "reach 123-45-6789@example.com"),  # SSN-shaped inside email
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in textanalysis.pii_redact(df).collect()}
    for i in (1, 2, 3):
        assert got[i]["text_redacted"] == "call <PHONE> now", got[i]
        assert got[i]["n_phone"] == 1
    assert got[4]["text_redacted"] == "order id 92345678901234 shipped"
    assert got[4]["n_phone"] == 0
    # the whole span redacts as EMAIL; counts attribute to the emitted
    # placeholder, not to every pattern that could have matched
    assert got[5]["text_redacted"] == "reach <EMAIL>"
    assert got[5]["n_email"] == 1 and got[5]["n_ssn"] == 0


def test_repetition_ratio_shapes(spark):
    df = _docs(
        spark,
        [
            (1, "a b a b a b"),      # grams: ab,ba,ab,ba,ab -> 5 total, 2 distinct
            (2, "v w x y z"),        # 4 grams, all distinct
            (3, "one"),              # < 2 tokens -> no row
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in textanalysis.repetition_ratio(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_grams"] == 5 and got[1]["distinct_grams"] == 2
    assert got[1]["dup_ratio"] == 0.6  # 1 - 2/5
    assert got[1]["top_ratio"] == 0.6  # 'a b' appears 3/5
    assert got[2]["dup_ratio"] == 0.0
    assert got[2]["top_ratio"] == 0.25


def test_curate_corpus_gates_and_redaction(spark):
    from data_pipeline2_spark.operators.curation import curate_corpus

    en = (
        "please contact the team at john@example.com for the offer and "
        "the details of the plan that it includes"
    )
    df = _docs(
        spark,
        [
            (10, en),
            (11, en),  # exact dup → only keeper 10 survives
            (20, "le chat est dans la maison et il est content avec le chien"),
            (30, "1234 5678 9012 3456 7890 1111 2222 3333 4444 5555 6666"),
            (40, "the end"),  # too short for min_tokens
            (50, None),  # null text never survives
        ],
    )
    out = curate_corpus(
        df, min_quality=0.6, langs=("en",), min_tokens=5, max_tokens=100
    ).toPandas()
    assert list(out.doc_id) == [10]
    row = out.iloc[0]
    assert "<EMAIL>" in row.text_redacted and "john@" not in row.text_redacted
    assert row.lang_pred == "en" and row.quality >= 0.6


def test_decontaminate_overlap(spark):
    evals = _docs(spark, [(100, "the quick brown fox jumps over the lazy dog")])
    corpus = _docs(
        spark,
        [
            # contains the eval 5-gram "the quick brown fox jumps"
            (1, "copied: the quick brown fox jumps right here"),
            (2, "totally unrelated words that never overlap anything else"),
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in textanalysis.decontaminate(corpus, evals, threshold=0.2).collect()
    }
    assert got[1]["n_hit"] >= 1 and got[1]["contaminated"] is True
    assert got[2]["n_hit"] == 0 and got[2]["contaminated"] is False


def test_semantic_decontamination_flags_planted_copy(spark):
    """A corpus vector identical to an eval vector must flag with
    max_sim 1.0 and point at that eval id; an orthogonal one must not."""
    from data_pipeline2_spark.operators.curation import decontaminate_semantic

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in decontaminate_semantic(corpus, ev, 0.95).collect()}
    assert out[100].contaminated and out[100].nearest_eval_id == 0
    assert out[100].max_sim == 1.0
    assert not out[101].contaminated


# ---------------------------------------------------------------- bloom


def _decontam_fixture(spark):
    eval_set = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
        ],
    )
    corpus = _docs(
        spark,
        [
            # full containment of an eval 5-gram window
            (10, "well the quick brown fox jumps over the fence"),
            # no overlap at all
            (11, "completely unrelated text about spark shuffles here"),
            # exact duplicate of an eval doc
            (12, "pack my box with five dozen liquor jugs"),
            # too short for 5-grams -> no row
            (13, "too short"),
        ],
    )
    return corpus, eval_set


def test_decontaminate_bloom_equals_exact(spark):
    corpus, eval_set = _decontam_fixture(spark)
    exact = {
        r["doc_id"]: r.asDict()
        for r in textanalysis.decontaminate(corpus, eval_set).collect()
    }
    bloom = {
        r["doc_id"]: r.asDict()
        for r in textanalysis.decontaminate_bloom(corpus, eval_set).collect()
    }
    assert exact == bloom
    assert bloom[12]["contaminated"] is True
    assert bloom[11]["n_hit"] == 0
    assert 13 not in bloom


def test_decontaminate_bloom_exact_even_with_tiny_filter(spark):
    """m_bits=64 forces a huge false-positive rate; the exact verify
    join must still produce identical results — the bloom can only
    admit extra candidates, never drop a true hit."""
    corpus, eval_set = _decontam_fixture(spark)
    exact = sorted(
        map(tuple, textanalysis.decontaminate(corpus, eval_set).collect())
    )
    bloom = sorted(
        map(
            tuple,
            textanalysis.decontaminate_bloom(
                corpus, eval_set, m_bits=64, k_hashes=2
            ).collect(),
        )
    )
    assert exact == bloom


def test_decontaminate_bloom_empty_eval_set(spark):
    corpus, eval_set = _decontam_fixture(spark)
    out = {
        r["doc_id"]: r.asDict()
        for r in textanalysis.decontaminate_bloom(
            corpus, eval_set.filter("doc_id < 0")
        ).collect()
    }
    assert set(out) == {10, 11, 12}
    assert all(v["n_hit"] == 0 and not v["contaminated"] for v in out.values())


def test_bloom_filter_no_false_negatives_property(spark):
    """Every inserted gram must test positive (bloom contract)."""
    from pyspark.sql import functions as F

    grams = spark.range(200).select(
        F.concat(F.lit("gram_"), F.col("id")).alias("shingle")
    )
    bits = textanalysis.build_gram_bloom(grams, m_bits=1 << 12, k_hashes=4)
    probe = grams.withColumn(
        "maybe",
        textanalysis._bloom_maybe_udf(bits)(
            textanalysis._bloom_positions_col(1 << 12, 4)
        ),
    )
    assert probe.filter("NOT maybe").count() == 0


def test_build_gram_bloom_validates_params(spark):
    import pytest

    grams = spark.range(1).select(F_lit_shingle())
    with pytest.raises(ValueError, match="power of two"):
        textanalysis.build_gram_bloom(grams, m_bits=1000)
    with pytest.raises(ValueError, match="k_hashes"):
        textanalysis.build_gram_bloom(grams, k_hashes=0)


def F_lit_shingle():
    from pyspark.sql import functions as F

    return F.lit("x").alias("shingle")


def test_readability_flesch_values(spark):
    from data_pipeline2_spark.operators.textanalysis import readability

    docs = spark.createDataFrame(
        [(1, "The cat sat. The dog ran fast!"), (2, "word " * 4), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in readability(docs).collect()}
    assert set(out) == {1, 2}  # null text filtered
    r1 = out[1]
    assert r1.n_words == 7 and r1.n_sentences == 2
    # syllable approximation: vowel-group runs (e|a|a|e|o|a|a = 7)
    assert r1.n_syllables == 7
    expected = round(206.835 - 1.015 * (7 / 2) - 84.6 * (7 / 7), 4)
    assert abs(r1.flesch - expected) < 1e-9
    r2 = out[2]
    assert r2.n_sentences == 1  # punctuation-free floor


@pytest.mark.driver
def test_readability_rounds_ties_like_the_oracle(spark):
    """flesch rounds as round(x * 1e4) / 1e4 in doubles, the oracle's
    rule, where the multiply lands exactly on a tie; a 4-place round of
    the double's decimal value gives the other neighbour on both."""
    import duckdb

    from data_pipeline2_spark import registry
    from data_pipeline2_spark.operators.textanalysis import readability

    rows = [
        # 1 word, 4 sentences, 84 syllables: -6899.818749999999
        (1, ("ba" * 21 + ".") * 4),
        # 32 words, 2 sentences, 1 syllable: 187.95125 (repr)
        (2, "b " * 30 + "b. a."),
    ]
    got = {r.doc_id: r.flesch for r in readability(_docs(spark, rows)).collect()}
    assert got == {1: -6899.8188, 2: 187.9512}
    con = duckdb.connect()
    con.register("documents_df", _docs(spark, rows).toPandas())
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_df")
    oracle = dict(
        con.execute(
            f"SELECT doc_id, flesch FROM ({registry.oracle_sql()['readability']})"
        ).fetchall()
    )
    assert got == oracle


def test_tfidf_top_terms_builds_its_plan_without_a_spark_job(spark):
    """N (the corpus doc count) is a broadcast one-row aggregate inside
    the plan, so calling tfidf_top_terms starts no Spark job — an eager
    documents.count() would run a second corpus scan at call time."""
    sc = spark.sparkContext
    df = _docs(spark, [(1, "a b B"), (2, "a c")])
    group = "tfidf-plan-build"
    sc.setJobGroup(group, "tfidf_top_terms plan build")
    try:
        out = textanalysis.tfidf_top_terms(df, k=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"], r["rank"])
        for r in out.collect()
    }
    assert got == {
        (1, "b"): (2, 1, round(2 * math.log(2.0), 6), 1),
        (1, "a"): (1, 2, 0.0, 2),
        (2, "c"): (1, 1, round(math.log(2.0), 6), 1),
        (2, "a"): (1, 2, 0.0, 2),
    }
