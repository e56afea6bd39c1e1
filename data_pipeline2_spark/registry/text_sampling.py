"""Registry part-module — see registry/__init__.py."""

from __future__ import annotations

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline2_spark.operators import (
    dedup,
    curation,
    textanalysis,
)
from data_pipeline2_spark.registry._core import _register, _t

from data_pipeline2_spark.registry.ingest_chunk import _knn_query_vec, _minhash_mh_ctes  # noqa: F401

# ------------------------------------------------ text analysis (§2.10)


@_register(
    "text_stats",
    """
    SELECT lang, count(*) AS docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN len(trim(text, ' ')) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text, ' '), '\\s+')) END) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_text_stats(spark, sf_dir):
    return textanalysis.text_stats(_t(spark, sf_dir, "documents"))


_LANGS = sorted(textanalysis.STOPWORDS)


def _lang_sql():
    toks = (
        "list_transform(CASE WHEN len(trim(text, ' ')) = 0 THEN [] "
        "ELSE regexp_split_to_array(trim(text, ' '), '\\s+') END, t -> lower(t))"
    )
    hits = {
        l: (
            f"len(list_filter({toks}, t -> t in ("
            + ", ".join(f"'{w}'" for w in textanalysis.STOPWORDS[l])
            + ")))"
        )
        for l in _LANGS
    }
    best = "greatest(" + ", ".join(f"h_{l}" for l in _LANGS) + ")"
    case = "CASE " + " ".join(
        f"WHEN best > 0 AND h_{l} = best THEN '{l}'" for l in _LANGS
    ) + " ELSE 'und' END"
    inner = ", ".join(f"{sql} AS h_{l}" for l, sql in hits.items())
    return f"""
    SELECT doc_id, {case} AS lang_pred, CAST(best AS INT) AS hits
    FROM (SELECT doc_id, {inner}, {best} AS best
          FROM documents)
    """


@_register("lang_id", _lang_sql())
def q_lang_id(spark, sf_dir):
    return textanalysis.lang_id(_t(spark, sf_dir, "documents"))


_QUALITY_SQL = """
    WITH f AS (
      SELECT doc_id, length(text) AS n,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
             CASE WHEN len(trim(text, ' ')) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text, ' '), '\\s+')) END AS n_tok,
             CASE WHEN text IS NULL THEN NULL  -- unknown, not measured-0:
                                               -- every feature of a NULL
                                               -- doc is NULL on both sides
                  ELSE coalesce(list_aggregate(list_transform(
                 CASE WHEN len(trim(text, ' ')) = 0 THEN []
                      ELSE regexp_split_to_array(trim(text, ' '), '\\s+') END,
                 x -> length(x)), 'sum'), 0) END AS tok_chars
      FROM documents
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars, CAST(n_tok AS BIGINT) AS n_tokens,
           round(n_alpha / greatest(n, 1), 6) AS alpha_ratio,
           round(n_digit / greatest(n, 1), 6) AS digit_ratio,
           round(tok_chars / greatest(n_tok, 1), 6) AS mean_tok_len,
           round(round(n_alpha / greatest(n, 1), 6) * 0.6
                 + (1 - round(n_digit / greatest(n, 1), 6)) * 0.2
                 + least(n_tok / 100.0, 1.0) * 0.2, 6) AS quality
    FROM f
"""


@_register("quality_score", _QUALITY_SQL)
def q_quality_score(spark, sf_dir):
    return textanalysis.quality_score(_t(spark, sf_dir, "documents"))


@_register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           sha256(lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g'))) AS content_sha
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    return textanalysis.fingerprint(_t(spark, sf_dir, "documents"))


def _pii_sql() -> str:
    """Oracle for pii_redact, generated from the SAME PII_PATTERNS dict
    (regexes are RE2/Java-portable by construction). Counts are taken
    over the redacted text — placeholder occurrences — matching the
    engine's one-span-one-attribution contract."""
    from data_pipeline2_spark.operators.textanalysis import PII_PATTERNS

    red = "text"
    for kind, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{kind}>', 'g')"
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text_redacted, '<{kind}>')) AS BIGINT)"
        f" AS n_{kind.lower()}"
        for kind in PII_PATTERNS
    )
    return f"""
    SELECT doc_id,
           text_redacted,
           {counts}
    FROM (SELECT doc_id, {red} AS text_redacted FROM documents)
    """


@_register("pii_redact", _pii_sql())
def q_pii_redact(spark, sf_dir):
    return textanalysis.pii_redact(_t(spark, sf_dir, "documents"))


@_register(
    "repetition_ratio",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\s+') AS t
      FROM documents WHERE len(trim(text, ' ')) > 0
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                                           i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks WHERE len(t) >= 2
    ),
    pg AS (SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS distinct_grams,
           round(1 - count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_ratio,
           round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS top_ratio
    FROM pg GROUP BY doc_id
    """,
)
def q_repetition_ratio(spark, sf_dir):
    return textanalysis.repetition_ratio(_t(spark, sf_dir, "documents"))


_DECONTAM_SQL = r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\s+') AS t
      FROM documents WHERE len(trim(text, ' ')) > 0
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, len(t) - 4),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
             || ' ' || t[i+4])) AS g
      FROM toks WHERE len(t) >= 5
    ),
    eg AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
    cg AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id >= 20)
    SELECT cg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(eg.g) AS BIGINT) AS n_hit,
           round(count(eg.g) / CAST(count(*) AS DOUBLE), 6) AS contamination,
           (count(eg.g) / CAST(count(*) AS DOUBLE)) >= 0.1 AS contaminated
    FROM cg LEFT JOIN eg ON cg.g = eg.g
    GROUP BY cg.doc_id
    """


@_register("decontaminate", _DECONTAM_SQL)
def q_decontaminate(spark, sf_dir):
    """Eval set = doc_id < 20 (stands in for a benchmark suite); corpus
    = the rest. 5-gram overlap fraction per corpus doc."""
    docs = _t(spark, sf_dir, "documents")
    return textanalysis.decontaminate(
        docs.filter(F.col("doc_id") >= 20), docs.filter(F.col("doc_id") < 20)
    )


@_register("decontaminate_bloom", _DECONTAM_SQL)
def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefilter decontamination — the scale path for eval sets
    past the broadcast threshold. Same oracle as `decontaminate`
    because the output is exactly equal by construction: the bloom can
    only admit false positives into the exact-verify join, never drop
    a true hit (operators/textanalysis.py:decontaminate_bloom)."""
    docs = _t(spark, sf_dir, "documents")
    return textanalysis.decontaminate_bloom(
        docs.filter(F.col("doc_id") >= 20), docs.filter(F.col("doc_id") < 20)
    )


def _curation_sql() -> str:
    """Oracle for curate_corpus: the quality / lang / pii oracles reused
    verbatim as CTEs (the engine computes them in ONE scan; the oracle
    joins them — values must agree either way), gated identically."""
    return f"""
    WITH keep AS (
      SELECT min(doc_id) AS keep_id
      FROM documents WHERE text IS NOT NULL
      GROUP BY sha256(lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g')))
    ),
    q AS ({_QUALITY_SQL}),
    l AS ({_lang_sql()}),
    r AS ({_pii_sql()})
    SELECT q.doc_id, l.lang_pred, q.quality, q.n_tokens, r.text_redacted
    FROM q
    JOIN l ON l.doc_id = q.doc_id
    JOIN r ON r.doc_id = q.doc_id
    JOIN keep ON keep.keep_id = q.doc_id
    WHERE q.quality >= 0.7 AND l.lang_pred = 'en'
      AND q.n_tokens BETWEEN 5 AND 5000
    """


@_register("corpus_curation", _curation_sql())
def q_corpus_curation(spark, sf_dir):
    return curation.curate_corpus(
        _t(spark, sf_dir, "documents"),
        min_quality=0.7,
        langs=("en",),
        min_tokens=5,
        max_tokens=5000,
    )


@_register(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_transform(
        CASE WHEN len(trim(text, ' ')) = 0 THEN []
             ELSE regexp_split_to_array(trim(text, ' '), '\\s+') END,
        t -> lower(t))) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rank
      FROM scored) WHERE rank <= 3
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    return textanalysis.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@_register(
    "dedup_clusters",
    """
    WITH RECURSIVE pairs AS (
      SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents
      WHERE doc_id % 7 < 2 AND doc_id + 1 IN (SELECT doc_id FROM documents)
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    # deterministic chain edges (doc, doc+1) over part of the corpus —
    # exercises multi-hop label propagation with a SQL-checkable fixpoint
    pairs = (
        docs.filter(F.col("doc_id") % 7 < 2)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + 1).alias("doc_b"),
        )
        .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    )
    return dedup.dedup_clusters(pairs)


@_register(
    "token_histogram",
    """
    SELECT CAST(floor(CASE WHEN len(trim(text, ' ')) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text, ' '), '\\s+')) END / 20.0)
                * 20 AS BIGINT) AS bucket_lo,
           count(*) AS docs
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def q_token_histogram(spark, sf_dir):
    return textanalysis.token_histogram(_t(spark, sf_dir, "documents"))


@_register(
    "edit_distance",
    r"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(
             regexp_replace(substring(a.text, 1, 40), '[^\x00-\x7f]', '?', 'g'),
             regexp_replace(substring(b.text, 1, 40), '[^\x00-\x7f]', '?', 'g')
           ) AS INT) AS dist
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id < 50
    """,
)
def q_edit_distance(spark, sf_dir):
    """Both sides compare the ASCII projection (non-ASCII codepoints →
    '?'): DuckDB's levenshtein counts BYTES where Spark's counts
    CODEPOINTS (measured: 'é' vs '' = 2 vs 1), so raw unicode distance
    has no portable oracle. The engine operator itself (F.levenshtein)
    stays codepoint-faithful — pinned on unicode fixtures in
    tests/test_textanalysis_pipeline.py."""
    docs = _t(spark, sf_dir, "documents")
    proj = lambda c: F.regexp_replace(  # noqa: E731
        F.substring(c, 1, 40), r"[^\x00-\x7f]", "?"
    )
    a = docs.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("id_a"), proj("text").alias("ta")
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"), proj("text").alias("tb")
    )
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b", F.levenshtein("ta", "tb").alias("dist"))
    )


@_register(
    "pivot_counts",
    """
    SELECT user_id % 10 AS user_bucket,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'view') AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'error') AS error
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q_pivot_counts(spark, sf_dir):
    evt = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        evt.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
        .orderBy("user_bucket")
    )


@_register(
    "agg_corr",
    """
    SELECT event_type,
           round(corr(value, user_id), 6) AS corr_vu,
           round(covar_samp(value, user_id), 4) AS covar_vu,
           round(stddev_samp(value), 6) AS sd_v
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_agg_corr(spark, sf_dir):
    evt = _t(spark, sf_dir, "events")
    return (
        evt.groupBy("event_type")
        .agg(
            F.round(F.corr("value", "user_id"), 6).alias("corr_vu"),
            F.round(F.covar_samp("value", "user_id"), 4).alias("covar_vu"),
            F.round(F.stddev_samp("value"), 6).alias("sd_v"),
        )
        .orderBy("event_type")
    )


@_register(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS events_last_hour
    FROM events WHERE user_id < 20
    """,
)
def q_window_range_frame(spark, sf_dir):
    evt = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    # duckdb's epoch(ts) keeps fractional seconds; cast-to-double matches it
    epoch_exact = F.col("ts").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_exact)
        .rangeBetween(-3600, 0)
    )
    return evt.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("events_last_hour"),
    )


@_register(
    "sample_deterministic",
    """
    SELECT doc_id, lang FROM documents
    WHERE substring(md5(concat_ws('|', 's1', doc_id::VARCHAR)), 1, 2) < '1a'
    """,
)
def q_sample_deterministic(spark, sf_dir):
    from data_pipeline2_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.sample_fraction(docs, "doc_id", 10, salt="s1").select(
        "doc_id", "lang"
    )


@_register(
    "train_test_split",
    """
    SELECT split, count(*) AS docs FROM (
      SELECT CASE WHEN p < 'cd' THEN 'train'
                  WHEN p < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT substring(md5(concat_ws('|', 'v1', doc_id::VARCHAR)), 1, 2) AS p
            FROM documents)
    ) GROUP BY split ORDER BY split
    """,
)
def q_train_test_split(spark, sf_dir):
    from data_pipeline2_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.train_test_split(docs, "doc_id", 80, 10, salt="v1")
    return (
        out.groupBy("split").agg(F.count(F.lit(1)).alias("docs")).orderBy("split")
    )


@_register(
    "dataset_shuffle",
    """
    SELECT doc_id, CAST(row_number() OVER (
             ORDER BY md5(concat_ws('|', 'epoch1', doc_id::VARCHAR)), doc_id
           ) AS INT) AS seq
    FROM documents WHERE doc_id < 200
    """,
)
def q_dataset_shuffle(spark, sf_dir):
    from data_pipeline2_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return sampling.deterministic_shuffle(docs, "doc_id", salt="epoch1").select(
        "doc_id", "seq"
    )


@_register(
    "stratified_sample",
    """
    SELECT lang, count(*) AS sampled FROM documents
    WHERE substring(md5(concat_ws('|', 's2',
            concat_ws('|', lang, doc_id::VARCHAR))), 1, 2) < '33'
    GROUP BY lang ORDER BY lang
    """,
)
def q_stratified_sample(spark, sf_dir):
    from data_pipeline2_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.stratified_sample(docs, "lang", "doc_id", 20, salt="s2")
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("sampled")).orderBy("lang")


@_register(
    "snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400
    ), new AS (
      SELECT doc_id, md5(CASE WHEN doc_id % 9 = 0 THEN text || ' v2'
                              ELSE text END) AS h
      FROM documents WHERE doc_id >= 100
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN old.h <> new.h THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """,
)
def q_snapshot_diff(spark, sf_dir):
    # CDC-style snapshot diff: classify rows as added/removed/changed/
    # unchanged between two table versions via a full outer join on the
    # key with content-hash comparison — the incremental-publish
    # primitive for slowly-changing lake tables
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 400).select(
        "doc_id", F.md5("text").alias("h")
    )
    new = docs.filter(F.col("doc_id") >= 100).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    o = old.select(F.col("doc_id").alias("o_id"), F.col("h").alias("o_h"))
    n = new.select(F.col("doc_id").alias("n_id"), F.col("h").alias("n_h"))
    joined = o.join(n, o["o_id"] == n["n_id"], "full_outer")
    change = (
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_h") != F.col("n_h"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(
        F.coalesce(F.col("o_id"), F.col("n_id")).alias("doc_id"),
        change.alias("change_type"),
    )


@_register(
    "dataset_mix",
    """
    SELECT source, count(*) AS kept FROM documents
    WHERE substring(md5(concat_ws('|', 'mix1', doc_id::VARCHAR)), 1, 2)
          < CASE WHEN source IN ('src0','src1','src2') THEN '80' ELSE '1a' END
    GROUP BY source ORDER BY source
    """,
)
def q_dataset_mix(spark, sf_dir):
    # weighted source mixing for training corpora: hot sources sampled
    # at 50%, the long tail at 10% — deterministic (hash), no rand()
    docs = _t(spark, sf_dir, "documents")
    prefix = F.substring(
        F.md5(F.concat_ws("|", F.lit("mix1"), F.col("doc_id").cast("string"))), 1, 2
    )
    rate = F.when(
        F.col("source").isin("src0", "src1", "src2"), F.lit("80")
    ).otherwise(F.lit("1a"))
    return (
        docs.filter(prefix < rate)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept"))
        .orderBy("source")
    )


def _h32_sql(key: str, salt: str) -> str:
    """First 8 md5 hex chars of salt|key as a BIGINT (DuckDB has no
    conv(); positional strpos over each nibble)."""
    md5 = f"md5(concat_ws('|', '{salt}', {key}::VARCHAR))"
    terms = " + ".join(
        f"CAST((strpos('0123456789abcdef', substr({md5}, {i + 1}, 1)) - 1) "
        f"AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


@_register(
    "dataset_mix_temperature",
    f"""
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), qs AS (
      SELECT lang, n,
             pow(n / (SELECT sum(n) FROM counts), 0.5) AS q
      FROM counts
    ), rates AS (
      SELECT lang, n,
             CAST(floor(round(least(1.0,
                 0.5 * (SELECT sum(n) FROM counts)
                     * (q / (SELECT sum(q) FROM qs)) / n),
               12) * 4294967296.0) AS BIGINT) AS thr
      FROM qs
    )
    SELECT d.lang, count(*) AS kept
    FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
    WHERE {_h32_sql('d.doc_id', 'tmix')} < r.thr
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def q_dataset_mix_temperature(spark, sf_dir):
    """Temperature-flattened mixture sampling (the pretraining data-mix
    knob, q_g ∝ p_g^T with T=0.5): rare languages upsample toward
    uniform, the dominant one downsamples, overall volume ≈ target.
    The oracle replays the per-group acceptance thresholds and the
    md5-integer acceptance test exactly."""
    from data_pipeline2_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.mix_by_temperature(
        docs, "lang", "doc_id", temperature=0.5, target_frac=0.5
    )
    return (
        out.groupBy("lang").agg(F.count(F.lit(1)).alias("kept")).orderBy("lang")
    )


@_register(
    "bpe_tokenize",
    r"""
    SELECT doc_id,
           -- replicates tokenizer._words (findall on the explicit
           -- ASCII-whitespace complement): extraction, not trim+split,
           -- so tab-only text reads 0 words, never phantom empties
           len(regexp_extract_all(lower(coalesce(text, '')),
                                  '[^ \t\n\r\f\v]+')) AS n_words,
           CAST(length(regexp_replace(lower(coalesce(text, '')),
                                      '\s', '', 'g')) AS BIGINT)
             AS n_word_chars,
           true AS reconstructed_ok,
           true AS tokens_bounded
    FROM documents
    """,
)
def q_bpe_tokenize(spark, sf_dir):
    """REAL corpus-trained BPE (operators/tokenizer.py): merges learned
    from the word-frequency table (bounded driver fit, Sennrich-style),
    applied distributedly. Mixed oracle: n_words / n_word_chars are
    EXACT (SQL recomputes the whitespace tokenization), while the merge
    table itself is gated by invariant booleans — reconstruction
    (tokens concatenate back to every word) and count bounds
    (n_words <= n_tokens <= n_word_chars) — that any slicing, ranking,
    or sentinel bug flips to false."""
    from data_pipeline2_spark.operators import tokenizer

    docs = _t(spark, sf_dir, "documents")
    merges = tokenizer.bpe_train(docs, n_merges=200)
    st = tokenizer.bpe_tokenize_stats(docs, merges)
    bounded = (F.col("n_tokens") >= F.col("n_words")) & (
        F.col("n_tokens") <= F.col("n_word_chars")
    )
    return st.select(
        "doc_id",
        "n_words",
        "n_word_chars",
        "reconstructed_ok",
        bounded.alias("tokens_bounded"),
    )


@_register(
    "sample_weighted",
    f"""
    WITH q AS ({_QUALITY_SQL})
    SELECT doc_id, quality
    FROM q
    WHERE {_h32_sql('doc_id', 'wsamp')}
          < CAST(floor(round(least(1.0, greatest(0.0, quality)), 12)
                       * 4294967296.0) AS BIGINT)
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Quality-proportional downsample: each doc kept with probability
    = its quality score (sampling.sample_weighted). The oracle replays
    the quality formula AND the md5-u32 acceptance test exactly."""
    from data_pipeline2_spark.operators import sampling

    q = textanalysis.quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    return sampling.sample_weighted(q, "doc_id", "quality")


@_register(
    "data_profile",
    """
    SELECT 'o_custkey' AS col, count(*) AS rows_n,
           count(o_custkey) AS non_null, count(DISTINCT o_custkey) AS distinct_n,
           CAST(min(o_custkey) AS DOUBLE) AS min_v, CAST(max(o_custkey) AS DOUBLE) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(o_totalprice),
           count(DISTINCT o_totalprice), min(o_totalprice), max(o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus),
           count(DISTINCT o_orderstatus), NULL, NULL
    FROM orders
    """,
)
def q_data_profile(spark, sf_dir):
    # the data-quality profiling pass every pipeline runs before
    # training: per-column completeness, cardinality, ranges
    orders = _t(spark, sf_dir, "orders")

    def prof(col, numeric=True):
        return orders.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("rows_n"),
            F.count(col).alias("non_null"),
            F.count_distinct(F.col(col)).alias("distinct_n"),
            (F.min(col).cast("double") if numeric else F.lit(None).cast("double")).alias("min_v"),
            (F.max(col).cast("double") if numeric else F.lit(None).cast("double")).alias("max_v"),
        )

    return (
        prof("o_custkey")
        .unionByName(prof("o_totalprice"))
        .unionByName(prof("o_orderstatus", numeric=False))
    )


@_register(
    "data_expectations",
    """
    WITH a AS (
      SELECT count(*) AS total,
             count(*) - count(o_custkey) AS v_notnull,
             count(*) - count(DISTINCT o_orderkey) AS v_unique,
             count(*) - count(CASE WHEN o_totalprice BETWEEN 0 AND 600000
                                   THEN 1 END) AS v_range,
             count(*) - count(CASE WHEN o_orderstatus IN ('O','F','P')
                                   THEN 1 END) AS v_set,
             CASE WHEN count(*) - count(o_custkey) > count(*) * 0.0
                  THEN count(*) - count(o_custkey) ELSE 0 END AS v_nullfrac,
             CASE WHEN count(*) < 1 THEN 1 - count(*)
                  WHEN count(*) > 1000000000 THEN count(*) - 1000000000
                  ELSE 0 END AS v_rows,
             count(*) - count(CASE WHEN o_totalprice IS NULL
                                     OR (NOT isnan(o_totalprice)
                                         AND NOT isinf(o_totalprice))
                                   THEN 1 END) AS v_finite
      FROM orders
    )
    SELECT e.expectation, e.kind, e.violations, a.total,
           e.violations = 0 AS passed
    FROM a, LATERAL (VALUES
      ('not_null(o_custkey)', 'not_null', v_notnull),
      ('unique(o_orderkey)', 'unique', v_unique),
      ('in_range(o_totalprice,0,600000)', 'in_range', v_range),
      ('in_set(o_orderstatus,[O,F,P])', 'in_set', v_set),
      ('max_null_fraction(o_custkey,0.0)', 'max_null_fraction', v_nullfrac),
      ('row_count_between(1,1000000000)', 'row_count_between', v_rows),
      ('finite(o_totalprice)', 'finite', v_finite)
    ) AS e(expectation, kind, violations)
    """,
)
def q_data_expectations(spark, sf_dir):
    """Deequ-style expectation suite over orders, the whole suite in ONE
    aggregation pass (operators/expectations.py) — per-check violation
    counts the oracle recomputes as plain SQL aggregates."""
    from data_pipeline2_spark.operators import expectations as ex

    orders = _t(spark, sf_dir, "orders")
    return ex.check_expectations(
        orders,
        [
            ex.not_null("o_custkey"),
            ex.unique("o_orderkey"),
            ex.in_range("o_totalprice", 0, 600000),
            ex.in_set("o_orderstatus", ["O", "F", "P"]),
            ex.max_null_fraction("o_custkey", 0.0),
            ex.row_count_between(1, 1_000_000_000),
            ex.finite("o_totalprice"),
        ],
    )


@_register(
    "approx_quantiles",
    """
    SELECT event_type, p, true AS approx_ok
    FROM (SELECT DISTINCT event_type FROM events),
         (VALUES (0.50), (0.90), (0.99)) AS t(p)
    """,
)
def q_approx_quantiles(spark, sf_dir):
    """percentile_approx under its own rank-error contract (invariant
    oracle, same pattern as approx_count_distinct): the engine verifies
    each sketch output's true rank interval hits the target +- 1/acc
    and emits the boolean; the oracle asserts constant true per
    (event_type, p). A broken accuracy knob or rank-off-by-one flips
    rows to false and hash-mismatches."""
    from data_pipeline2_spark.operators.aggregates import approx_quantile_check

    return approx_quantile_check(
        _t(spark, sf_dir, "events"), "event_type", "value", [0.5, 0.9, 0.99]
    )


@_register(
    "unpivot_metrics",
    """
    WITH m AS (
      SELECT o_orderstatus,
             round(sum(o_totalprice), 2) AS sum_price,
             round(avg(o_totalprice), 4) AS avg_price,
             CAST(count(*) AS DOUBLE) AS n_orders
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'sum_price' AS metric, sum_price AS value FROM m
    UNION ALL
    SELECT o_orderstatus, 'avg_price', avg_price FROM m
    UNION ALL
    SELECT o_orderstatus, 'n_orders', n_orders FROM m
    """,
)
def q_unpivot_metrics(spark, sf_dir):
    """Wide→long reshape via the native DataFrame.unpivot (melt):
    per-status metrics unpivoted to (status, metric, value) rows — the
    inverse of pivot_counts, one Generate node, no shuffle beyond the
    aggregation's own. Decimal-exact sum/avg per the engine's
    cross-engine float rules."""
    from data_pipeline2_spark.operators.aggregates import exact_avg, exact_sum

    wide = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(exact_sum(F.col("o_totalprice")), 2).alias("sum_price"),
            F.round(exact_avg(F.col("o_totalprice")), 4).alias("avg_price"),
            F.count(F.lit(1)).cast("double").alias("n_orders"),
        )
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["sum_price", "avg_price", "n_orders"],
        "metric",
        "value",
    )


@_register(
    "count_distinct_users",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS distinct_users,
           count(*) AS events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_count_distinct_users(spark, sf_dir):
    evt = _t(spark, sf_dir, "events")
    return (
        evt.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("distinct_users"),
            F.count(F.lit(1)).alias("events"),
        )
        .orderBy("event_type")
    )


@_register(
    "approx_count_distinct",
    """
    SELECT event_type, true AS within_tol
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_approx_count_distinct(spark, sf_dir):
    # HLL++ sketch — approximate by design, so the oracle checks the
    # error BOUND, not the estimate: Spark emits
    # abs(approx-exact)/exact <= 0.05 per group (rsd=0.02 gives ~2.5x
    # headroom), DuckDB emits `true` — hash-matchable. The exact
    # count_distinct here is the verification harness only; at 100 TB
    # you run the approx path alone (no exact-distinct shuffle
    # explosion) — the sketch's error contract is what this row proves.
    evt = _t(spark, sf_dir, "events")
    exact = F.count_distinct("user_id")
    approx = F.approx_count_distinct("user_id", rsd=0.02)
    return (
        evt.groupBy("event_type")
        .agg(
            (
                (F.abs(approx.cast("double") - exact.cast("double"))
                 / exact.cast("double")) <= F.lit(0.05)
            ).alias("within_tol")
        )
        .orderBy("event_type")
    )


@_register(
    "token_count_bpe",
    """
    SELECT doc_id,
           CASE WHEN len(trim(text, ' ')) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text, ' '), '\\s+')) END AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens
    FROM documents WHERE doc_id < 200
    """,
)
def q_token_count_bpe(spark, sf_dir):
    # whitespace tokens + a BPE-ish subword proxy (greedy ≤4-char
    # alphabetic pieces, digit runs, single punctuation) — the
    # token-budget estimator for training-data pipelines
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    from data_pipeline2_spark.functions.text import token_count

    bpe = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(r"[a-z]{1,4}|[0-9]+|[^a-z0-9\s]"), 0
        )
    )
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
    )


