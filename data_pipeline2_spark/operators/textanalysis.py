"""Text-analysis operators for training-data pipelines.

North-star scope: language ID (n-gram/stopword heuristic), quality
scoring (length/punct/stopword ratios), token counting, document
fingerprinting. All pure Catalyst expressions — per-document map-side
work with a single small aggregation where stated, so they scale
linearly with the corpus and never shuffle document text.
"""

from __future__ import annotations

from data_pipeline2_spark.plans.materialize import materialize

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline2_spark.functions.text import (
    ascii_split,
    content_hash,
    sentences,
    token_count,
    tokens,
)

# tiny deterministic stopword inventories for the heuristic language ID
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "en", "que"],
}


# ---------------------------------------------------------------- term
# statistics core: every bag-of-words operator below is a composition
# of these three stages


def _terms(documents: DataFrame, text_col: str, *keys) -> DataFrame:
    """(*keys, term) rows: each document's lowercased whitespace tokens,
    exploded (null and blank text explode to no rows). `keys` are the
    per-document columns each term row carries (doc_id, a group key,
    the doc length)."""
    return documents.select(
        *keys, F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )


def _postings(terms: DataFrame, *aggs: Column) -> DataFrame:
    """(doc_id, term, tf, *aggs) postings of `_terms` rows keyed by
    doc_id — one (doc_id, term) aggregation, tf a BIGINT count; `aggs`
    ride the same aggregate."""
    return terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), *aggs
    )


def _term_counts(terms: DataFrame) -> DataFrame:
    """(term, c) corpus count table of `_terms` rows — one
    vocabulary-bounded aggregation with map-side partials."""
    return terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))


# ---------------------------------------------------------------- token
# position core: every sequence-aware operator (positional index,
# co-occurrence, PMI, TextTiling, the n-gram LMs, the held-out
# tokenizers) is a composition of these stages


def _positions(documents: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, p, term) rows: `_terms` with each token's 0-based
    position — the lowercased whitespace tokens, posexploded (null and
    blank text explode to no rows)."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("p", "term"),
    )


def _window_pairs(positions: DataFrame, window: int) -> DataFrame:
    """(w1, w2) rows: every token paired with each of the next `window`
    tokens of its document, normalized so w1 <= w2. One lead() per
    offset over the per-doc ordering — O(T x window) rows behind ONE
    doc_id exchange; a doc_id self-join would leave the range
    predicate as a post-join residual and enumerate all same-doc pairs
    first."""
    from pyspark.sql.window import Window

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    wspec = Window.partitionBy("doc_id").orderBy("p")
    offs = positions.select(
        "term",
        *[
            F.lead("term", i).over(wspec).alias(f"__n{i}")
            for i in range(1, window + 1)
        ],
    )
    # keep the raw lead in the struct: least/greatest SKIP nulls, so
    # filtering on them would admit spurious (w, w) pairs at doc tails
    pair_structs = F.array(
        *[
            F.struct(
                F.col(f"__n{i}").alias("nb"),
                F.least(F.col("term"), F.col(f"__n{i}")).alias("w1"),
                F.greatest(F.col("term"), F.col(f"__n{i}")).alias("w2"),
            )
            for i in range(1, window + 1)
        ]
    )
    return (
        offs.select(F.explode(pair_structs).alias("pr"))
        .filter(F.col("pr.nb").isNotNull())
        .select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    )


def _ngrams(positions: DataFrame, n: int) -> DataFrame:
    """(doc_id, p, w1 … wn) rows: every run of n consecutive tokens of a
    document, ending at position p — lag()s over the per-doc ordering,
    clustered by the one doc_id exchange; docs shorter than n tokens
    give no rows."""
    from pyspark.sql.window import Window

    wspec = Window.partitionBy("doc_id").orderBy("p")
    return positions.select(
        "doc_id",
        "p",
        *[
            F.lag("term", n - i).over(wspec).alias(f"w{i}")
            for i in range(1, n)
        ],
        F.col("term").alias(f"w{n}"),
    ).filter(F.col("w1").isNotNull())


def _train_held(
    documents: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(train, held) halves of the non-null-text documents: even
    pmod(id, 2) ids fit, odd ids are scored."""
    docs = documents.filter(F.col(text_col).isNotNull())
    parity = F.pmod(F.col(id_col), F.lit(2))
    return docs.filter(parity == 0), docs.filter(parity == 1)


def _phrase_terms(phrase: str) -> list[str]:
    """A phrase query's lowercased tokens, split on the engine's ASCII
    whitespace like the documents; a phrase with no tokens matches
    nothing meaningful, so it is a named error."""
    terms = ascii_split(phrase.lower())
    if not terms:
        raise ValueError(f"phrase has no tokens: {phrase!r}")
    return terms


def _query_terms(queries: DataFrame, qid_col: str, qtext_col: str) -> DataFrame:
    """(qid, term) rows: each query's distinct lowercased tokens."""
    return queries.select(
        F.col(qid_col).alias("qid"),
        F.explode(
            F.array_distinct(tokens(F.lower(F.col(qtext_col))))
        ).alias("term"),
    )


def _hits(toks: Column, words: list[str]) -> Column:
    """Count of tokens (with multiplicity) found in `words`."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_pred_cols(t: Column) -> tuple[Column, Column]:
    """(lang_pred, best_hits) expressions over a text column — the
    shared core of lang_id and any composed pipeline (curation) that
    wants the prediction without a separate scan + join."""
    toks = tokens(F.lower(t))
    langs = sorted(STOPWORDS)
    hits = {l: _hits(toks, STOPWORDS[l]) for l in langs}
    best = F.greatest(*[hits[l] for l in langs])
    pred = F.lit("und")
    for l in reversed(langs):  # earlier langs win ties (reversed fold)
        pred = F.when((best > 0) & (hits[l] == best), F.lit(l)).otherwise(pred)
    return pred, best


def lang_id(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic language ID by stopword hits → (doc_id, lang_pred, hits).

    Winner = language with the most stopword hits; ties and zero hits
    resolve to 'und' (undetermined) / lexicographically first winner, so
    the result is order-independent and oracle-checkable.
    """
    pred, best = lang_pred_cols(F.col(text_col))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        pred.alias("lang_pred"),
        best.cast("int").alias("hits"),
    )


def quality_feature_cols(t: Column) -> dict[str, Column]:
    """Named quality-feature expressions over a text column — shared by
    quality_score and composed pipelines (one scan, no joins)."""
    n = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(t, "[^0-9]", ""))
    n_tok = token_count(t)
    alpha_ratio = F.round(n_alpha / F.greatest(n, F.lit(1)), 6)
    digit_ratio = F.round(n_digit / F.greatest(n, F.lit(1)), 6)
    # exact mean token length from the token array itself — a
    # separator-count formula miscounts under repeated/leading
    # whitespace, and an empty doc must read 0, not 1
    tok_chars = F.aggregate(
        F.transform(tokens(t), lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_tok_len = F.round(tok_chars / F.greatest(n_tok, F.lit(1)), 6)
    score = F.round(
        alpha_ratio * 0.6
        + (1 - digit_ratio) * 0.2
        + F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.2,
        6,
    )
    return {
        "n_chars": n.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "alpha_ratio": alpha_ratio,
        "digit_ratio": digit_ratio,
        "mean_tok_len": mean_tok_len,
        "quality": score,
    }


def quality_score(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc quality features + a composite score → one row per doc.

    Features follow the standard pretraining-data filters: length,
    alphabetic ratio, digit ratio, mean token length, token count.
    Score = deterministic weighted sum, rounded for hash stability.
    """
    feats = quality_feature_cols(F.col(text_col))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        *[c.alias(name) for name, c in feats.items()],
    )


CLASSIFIER_FEATURES = ("bias", "alpha_ratio", "digit_ratio",
                       "tok_sat", "len_sat")


def _classifier_features(
    documents: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-doc classifier inputs → (doc_id, x1..x4, y), NULL-text docs
    excluded from FITTING (their features are unknown, not zero).

    x = (alpha_ratio, digit_ratio, token-count saturation n_tok/100
    capped at 1, mean-token-length saturation /10 capped at 1) — each
    rounded to 6 so both engines fit from identical doubles; label
    y = the rule-based composite (quality > 0.5), i.e. the classifier
    DISTILLS the heuristic filter into a scorer (the standard
    bootstrap when no human labels exist)."""
    f = quality_feature_cols(F.col(text_col))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        f["alpha_ratio"].alias("x1"),
        f["digit_ratio"].alias("x2"),
        F.round(
            F.least(f["n_tokens"] / F.lit(100.0), F.lit(1.0)), 6
        ).alias("x3"),
        F.round(
            F.least(f["mean_tok_len"] / F.lit(10.0), F.lit(1.0)), 6
        ).alias("x4"),
        F.when(f["quality"] > 0.5, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )


def _round_half_up(x: float, places: int) -> float:
    """SQL ROUND semantics (ties away from zero) — python's built-in
    round() is banker's and would diverge from both engines on ties."""
    import decimal

    q = decimal.Decimal(1).scaleb(-places)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def _fit_quality_logreg(
    documents: DataFrame,
    n_steps: int,
    lr: float,
    id_col: str,
    text_col: str,
) -> tuple[list[float], int]:
    """Deterministic full-batch gradient descent for the logistic
    quality filter → (weights, n_rows). The iterative-fit recipe the
    engine already uses for k-means: per-step state is O(k) on the
    driver, each step is ONE aggregation over the cached feature frame,
    and every cross-engine-fragile quantity is pinned —
    - the sigmoid is the ALGEBRAIC 0.5 + z/(2(1+|z|)) (only +,-,*,/,
      abs: IEEE-exact on both engines; exp() differs in the last ulp
      across libm implementations and a 1-ulp flip at a rounding
      boundary would fork the trajectory),
    - per-row gradient contributions round to 9 places and accumulate
      as DECIMAL(28,12) (associative, partition-order-proof),
    - weights round to 6 (ties away from zero, matching SQL ROUND)
      after every step, so the DuckDB oracle can unroll the identical
      trajectory as CTEs."""
    feats = (
        _classifier_features(documents, id_col, text_col)
        .filter(F.col("x1").isNotNull())
        .transform(materialize)
    )
    n = feats.count()
    if n == 0:
        raise ValueError("quality_classifier fit: empty corpus")
    w = [0.0] * 5
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3"), F.col("x4")]
    for _ in range(n_steps):
        z = F.lit(w[0])
        for j in range(1, 5):
            z = z + F.lit(w[j]) * xs[j]
        p = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
        resid = F.col("y") - p
        sums = feats.agg(
            *[
                F.sum(
                    F.round(resid * xs[j], 9).cast("decimal(28,12)")
                ).alias(f"s{j}")
                for j in range(5)
            ]
        ).collect()[0]
        w = [
            _round_half_up(w[j] + lr * (float(sums[j]) / n), 6)
            for j in range(5)
        ]
    return w, n


def quality_classifier_fit(
    documents: DataFrame,
    n_steps: int = 3,
    lr: float = 2.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based quality filtering, the FIT step → one row per weight
    (feature, weight): a logistic scorer distilled from the rule-based
    quality composite — the standard pretraining-curation move (GPT-3 /
    LLaMA pipelines train a quality classifier on a rule- or
    reference-labeled seed set, then score the whole corpus). See
    _fit_quality_logreg for the determinism contract that makes the
    trajectory DuckDB-replayable."""
    w, _ = _fit_quality_logreg(documents, n_steps, lr, id_col, text_col)
    spark = documents.sparkSession
    return spark.createDataFrame(
        list(zip(CLASSIFIER_FEATURES, w)), "feature string, weight double"
    )


def quality_classifier_score(
    documents: DataFrame,
    n_steps: int = 3,
    lr: float = 2.0,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The SCORE step → (doc_id, score, keep) for every document: the
    fitted weights (O(k) driver state) applied corpus-wide in one
    map-only projection. NULL-text docs carry NULL score/keep (their
    features are unknown; route them to the not_null expectation, not
    to a fabricated 0)."""
    w, _ = _fit_quality_logreg(documents, n_steps, lr, id_col, text_col)
    feats = _classifier_features(documents, id_col, text_col)
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3"), F.col("x4")]
    z = F.lit(w[0])
    for j in range(1, 5):
        z = z + F.lit(w[j]) * xs[j]
    p = F.round(
        F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z))), 6
    )
    return feats.select(
        "doc_id", p.alias("score"), (p > threshold).alias("keep")
    )


DSIR_SCALE = 10_000_000_000.0  # ln integerization (char_entropy idiom)


def dsir_weights(
    documents: DataFrame,
    target: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023) → (doc_id, n_tokens, dsir_weight, selected) for every doc
    with at least one token: per-doc average log importance ratio
    between the TARGET distribution (the docs in `target`, a (doc_id)
    frame naming the in-domain seed set) and the RAW distribution,
    under a hashed unigram bag-of-words model with Laplace smoothing —
    the published recipe's hashed-ngram variant, the scalable form.

    weight_doc = mean over tokens of ln( p_target(b) / p_raw(b) ),
    b = md5-hash bucket of the token; selected = weight > 0 (the doc
    looks more target-like than raw-like). Docs with no tokens carry
    no distributional evidence and are not emitted (route them to the
    expectation gates, not to a fabricated weight).

    Determinism contract: the 2·n_buckets bucket counts reduce in one
    hash aggregation; the log ratios are computed JVM-side on that
    n_buckets-row frame and INTEGERIZED (floor(ln·1e10) as BIGINT —
    the char_entropy idiom that makes cross-engine ln noise
    sub-observable), collected to the driver (O(n_buckets) state,
    never rows), and applied map-only as an inlined lookup array; the
    per-doc sum is exact integer arithmetic, so partition order can
    never move a weight.

    Scale shape: one explode + one (bucket) aggregation over corpus
    tokens (map-side partials, n_buckets-bounded exchange), a
    broadcast semi-flag against the target ids, then one map-only
    scoring pass with a groupBy(doc) exact-integer sum — no join
    against a corpus-sized side anywhere.
    """
    md5h = F.md5(F.col("term"))
    bucket = (
        F.conv(F.substring(md5h, 1, 8), 16, 10).cast("long")
        % F.lit(n_buckets)
    ).cast("int")
    toks = _terms(documents, text_col, F.col(id_col).alias("doc_id")).select(
        "doc_id", bucket.alias("b")
    )
    tgt = target.select(F.col(id_col).alias("doc_id")).distinct()
    flagged = toks.join(
        F.broadcast(tgt.withColumn("__t", F.lit(1))), "doc_id", "left"
    )
    bc = flagged.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(F.col("__t")).alias("ct"),
    )
    tots = bc.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    lr_rows = (
        bc.crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.floor(
                F.log(
                    (
                        (F.col("ct") + 1).cast("double")
                        / (F.col("tt") + n_buckets)
                    )
                    / (
                        (F.col("cr") + 1).cast("double")
                        / (F.col("tr") + n_buckets)
                    )
                )
                * F.lit(DSIR_SCALE)
            )
            .cast("long")
            .alias("lrv"),
        )
        .collect()
    )
    lr = {r.b: r.lrv for r in lr_rows}
    # buckets no token hashed into never occur in `toks`; 0 placeholder
    lut = F.array(
        *[F.lit(int(lr.get(b, 0))).cast("long") for b in range(n_buckets)]
    )
    scored = toks.select(
        "doc_id", F.element_at(lut, F.col("b") + 1).alias("lrv")
    )
    w = F.round(
        (F.col("s").cast("double") / F.col("n")) / F.lit(DSIR_SCALE), 6
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("lrv").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            w.alias("dsir_weight"),
            (w > 0).alias("selected"),
        )
    )


def text_stats(
    documents: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Corpus stats per group → (lang, docs, total_chars, total_tokens,
    avg_chars). Single small-cardinality aggregation."""
    return (
        documents.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.length(F.col(text_col))).alias("total_chars"),
            F.sum(token_count(F.col(text_col)).cast("long")).alias("total_tokens"),
            (
                F.sum(F.length(F.col(text_col))).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_chars"),
        )
        .orderBy(group_col)
    )


def fingerprint(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stable content fingerprint → (doc_id, content_sha).

    sha256 over whitespace-normalized lowercased content — the dedup /
    provenance key (same primitive as the reference's deterministic
    cache keys, search_cache.py:18-33).
    """
    return documents.select(
        F.col(id_col).alias("doc_id"),
        content_hash(F.col(text_col)).alias("content_sha"),
    )


def tfidf_top_terms(
    documents: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document → (doc_id, term, tf, df, tfidf, rank).

    tf = in-doc term count, df = documents containing the term,
    idf = ln(N/df). One explode + one (doc, term) aggregation; df is a
    per-term window count over the postings (as in the BM25 probe) and
    N a broadcast one-row count, so building the plan runs no Spark
    job. tfidf rounded for cross-engine hash stability.
    """
    from pyspark.sql.window import Window

    tf = _postings(_terms(documents, text_col, F.col(id_col).alias("doc_id")))
    n_docs = documents.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def token_histogram(
    documents: DataFrame, text_col: str = "text", bucket: int = 20
) -> DataFrame:
    """Token-count histogram → (bucket_lo, docs)."""
    n_tok = token_count(F.col(text_col))
    lo = (F.floor(n_tok / F.lit(bucket)) * bucket).cast("long")
    return (
        documents.select(lo.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("bucket_lo")
    )


# PII patterns — engine-portable regexes: no lookaround, and alternation
# branches have disjoint start characters ('+' / '(' / digit-at-\b), so
# Java regex (Spark, leftmost-first) and RE2 (DuckDB, leftmost-longest)
# match identical spans. Training pipelines run these BEFORE
# tokenization/dedup so placeholders hash consistently.
#
# PHONE branches: explicit +country-code; parenthesized area code; plain
# 10-digit with optional - or space separators. The leading \b on the
# plain branch stops matches starting mid-digit-run (long numeric ids),
# and the exact 3-3-4 shape with \b on both ends rejects runs of ≥11
# digits without a '+'.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IP": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "PHONE": (
        r"\+\d{1,3}[- ]?\(?\d{3}\)?[- ]?\d{3}[- ]?\d{4}\b"
        r"|\(\d{3}\)[- ]?\d{3}[- ]?\d{4}\b"
        r"|\b\d{3}[- ]?\d{3}[- ]?\d{4}\b"
    ),
    "SSN": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_redact_col(t: Column) -> Column:
    """Typed-placeholder redaction chain over a text column. Pattern
    order matters — EMAIL first so an address with an alpha TLD after a
    dotted-quad-looking local ('u@1.2.3.4.com') redacts as one email
    rather than leaving an <IP> inside it; later patterns see only the
    residue."""
    red = t
    for kind, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{kind}>")
    return red


def pii_count_cols(red: Column) -> list[Column]:
    """Per-kind placeholder counts (aliased n_email/n_ip/...), counted
    in the REDACTED text, so counts always agree with the placeholders
    actually emitted — a span matching two kinds (an SSN-shaped string
    inside an email) is attributed to the kind that redacted it."""
    return [
        F.size(F.regexp_extract_all(red, F.lit(f"<{kind}>"), 0))
        .cast("long")
        .alias(f"n_{kind.lower()}")
        for kind in PII_PATTERNS
    ]


def pii_redact(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact PII spans with typed placeholders → (doc_id, text_redacted,
    n_email, n_ip, n_phone, n_ssn).

    Pure map-side regexp_replace chain (JVM codegen, no UDF, no
    shuffle); counts = placeholders present in the redacted output (one
    span, one attribution).
    """
    red = pii_redact_col(F.col(text_col))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        red.alias("text_redacted"),
        *pii_count_cols(red),
    )


def repetition_ratio(
    documents: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document n-gram repetition (Gopher/RefinedWeb-style
    quality signal) → (doc_id, n_grams, distinct_grams, dup_ratio,
    top_ratio).

    dup_ratio = 1 - distinct/total; top_ratio = most frequent gram's
    share. Docs with < n tokens emit no row (no grams to measure).
    Two-level agg, both clustered by doc_id: (doc, gram) counts then
    per-doc rollup — the (doc, gram) shuffle is the only data movement
    and partial aggregation collapses repeats map-side.
    """
    from data_pipeline2_spark.operators.dedup import doc_shingles

    grams = doc_shingles(documents, n, id_col, text_col, distinct=False)
    per_gram = grams.groupBy("doc_id", "shingle").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("distinct_grams"),
            F.max("cnt").alias("max_cnt"),
        )
        .select(
            "doc_id",
            "n_grams",
            "distinct_grams",
            F.round(
                1 - F.col("distinct_grams") / F.col("n_grams"), 6
            ).alias("dup_ratio"),
            F.round(F.col("max_cnt") / F.col("n_grams"), 6).alias("top_ratio"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check: per corpus doc, the fraction of
    its distinct n-grams that appear anywhere in the eval set →
    (doc_id, n_grams, n_hit, contamination, contaminated).

    Corpus docs with fewer than n tokens emit NO row (no grams to
    probe, same contract as repetition_ratio) — callers gating on
    `contaminated = false` must left-join and treat absence as
    no-signal, not drop short docs.

    The eval-gram index is DISTINCT grams only (tiny — eval sets are
    thousands of docs, not billions) and broadcast, so the corpus side
    never shuffles its text: grams are derived map-side, probed against
    the broadcast set, and collapsed back to one row per doc on the
    existing doc_id clustering. This is the standard train-set
    decontamination pass (GPT-3 appendix C / PaLM style) at lake scale.
    """
    from data_pipeline2_spark.operators.dedup import doc_shingles

    eval_grams = (
        doc_shingles(eval_set, n, id_col, text_col, distinct=False)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus_grams = doc_shingles(corpus, n, id_col, text_col, distinct=True)
    probed = corpus_grams.join(F.broadcast(eval_grams), "shingle", "left")
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("contamination"),
            (F.col("n_hit") / F.col("n_grams") >= threshold).alias(
                "contaminated"
            ),
        )
    )


def build_gram_bloom(
    grams: DataFrame,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
    col: str = "shingle",
):
    """Bloom filter over a gram set → broadcast packed bit bytes.

    Positions are computed JVM-side (k seeded xxhash64 % m per gram —
    cheap codegen'd intrinsics, no Python in the scan); only the
    DISTINCT positions come back to build the bit array, a bounded
    driver artifact like the IVF k-means fit (operators/similarity.py):
    m/8 bytes regardless of gram count — 2^20 bits is 128 KiB where the
    gram strings themselves could be gigabytes. That asymmetry is the
    whole point: when the eval/benchmark set outgrows a broadcast of
    its grams, the bloom BITS still broadcast for free.
    """
    import numpy as np

    if m_bits < 8 or m_bits & (m_bits - 1):
        raise ValueError(f"m_bits must be a power of two >= 8, got {m_bits}")
    if not 1 <= k_hashes <= 16:
        raise ValueError(f"k_hashes must be in 1..16, got {k_hashes}")
    positions = (
        grams.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.lit(seed), F.col(col)), F.lit(m_bits)
                        )
                        for seed in range(k_hashes)
                    ]
                )
            ).alias("p")
        )
        .distinct()
        .toPandas()["p"]
        .to_numpy()
    )
    bits = np.zeros(m_bits, dtype=bool)
    if len(positions):
        bits[positions] = True
    spark = grams.sparkSession
    return spark.sparkContext.broadcast(np.packbits(bits).tobytes())


def _bloom_positions_col(m_bits: int, k_hashes: int, col: str = "shingle"):
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(seed), F.col(col)), F.lit(m_bits))
            for seed in range(k_hashes)
        ]
    )


def _bloom_maybe_udf(bits_bcast):
    """Vectorized membership test: one numpy gather per Arrow batch."""
    import numpy as np

    @F.pandas_udf("boolean")
    def maybe(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        bits = np.frombuffer(bits_bcast.value, dtype=np.uint8)
        mat = np.stack(pos.to_numpy()).astype(np.int64)
        hit = (bits[mat >> 3] & (1 << (7 - (mat & 7))).astype(np.uint8)) != 0
        return pd.Series(hit.all(axis=1))

    return maybe


def decontaminate_bloom(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    threshold: float = 0.1,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """`decontaminate` for eval sets too large to broadcast as grams:
    bloom-bits prefilter + exact verify. Output is IDENTICAL to the
    exact path (same schema, same values) — bloom false positives only
    cost verify work, never correctness, and false negatives are
    impossible (every true hit sets its own bits).

    Scale shape: corpus grams are probed map-side against the broadcast
    bit array (one vectorized numpy gather per Arrow batch); only
    survivors (true hits + ~fp-rate of the corpus) enter the exact
    verify join, so the shuffle ships a sliver of the gram stream. The
    verify join deliberately takes NO broadcast hint — this variant
    exists precisely for eval sets past the broadcast threshold.
    """
    from data_pipeline2_spark.operators.dedup import doc_shingles

    eval_grams = (
        doc_shingles(eval_set, n, id_col, text_col, distinct=False)
        .select("shingle")
        .distinct()
    )
    bits = build_gram_bloom(eval_grams, m_bits, k_hashes)
    corpus_grams = doc_shingles(corpus, n, id_col, text_col, distinct=True)
    totals = corpus_grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    survivors = corpus_grams.filter(
        _bloom_maybe_udf(bits)(_bloom_positions_col(m_bits, k_hashes))
    )
    hits = (
        survivors.join(eval_grams.withColumn("__hit", F.lit(1)), "shingle", "left")
        .groupBy("doc_id")
        .agg(F.count("__hit").alias("n_hit"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("contamination"),
            (F.col("n_hit") / F.col("n_grams") >= threshold).alias(
                "contaminated"
            ),
        )
    )


def bm25_search(
    documents: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval over a document corpus → top-k
    (doc_id, score, matched_terms), score desc / doc_id asc.

    Reference parity: the reference's full-text path is an Elasticsearch
    `match` query (test_full_pipeline.py:130-139; README.md:35-38
    promises full-text search), and ES `match` scores with Lucene's
    BM25 (k1=1.2, b=0.75 defaults). This is that scoring function as a
    pure Catalyst plan — no stored index, no UDF:

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))      (Lucene idf)
        s(d, t) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    The scan is the index probe over an unmaterialized index:
    `bm25_search_indexed(build_text_index(documents), query_terms)`.
    Catalyst pushes the probe's `term IN q` filter below the postings
    aggregate to sit right after the token explode, so the one
    (doc_id, term) shuffle carries only matching postings (query terms
    are a handful — the moral equivalent of an inverted-index seek).
    Per-doc scores sum the per-term contributions in a FIXED order
    (`_bm25_top_k`), bit-identical across partitionings and engines.
    Raises ValueError when `query_terms` is empty.
    """
    return bm25_search_indexed(
        build_text_index(documents, id_col=id_col, text_col=text_col),
        query_terms,
        k=k,
        k1=k1,
        b=b,
    )


def bm25_oracle_sql(
    query_terms: list[str], k: int = 10, k1: float = 1.2, b: float = 0.75
) -> str:
    """DuckDB replica of bm25_search over the `documents` view —
    identical tokenization, idf, fixed-order term summation, rounding."""
    q = sorted({t.lower() for t in query_terms})
    in_list = ", ".join(f"'{t}'" for t in q)
    fixed_sum = " + ".join(
        f"coalesce(max(CASE WHEN term = '{t}' THEN c END), 0.0)" for t in q
    )
    return f"""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN len(trim(text, ' ')) = 0 THEN []
                  ELSE regexp_split_to_array(lower(trim(text, ' ')), '\\s+')
                  END AS toks
      FROM documents
    ), dl AS (
      SELECT doc_id, len(toks)::DOUBLE AS dl FROM docs
    ), stats AS (
      SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*)::DOUBLE AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
      WHERE term IN ({in_list})
      GROUP BY doc_id, term
    ), dfx AS (
      SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
    ), contrib AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
             * tf.tf * {k1 + 1.0}
             / (tf.tf + {k1} * ({1.0 - b} + {b} * dl.dl / s.avgdl)) AS c
      FROM tf
      JOIN dfx USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    )
    SELECT doc_id, round({fixed_sum}, 6) AS score,
           CAST(count(*) AS INT) AS matched_terms
    FROM contrib GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {k}
    """


def _bm25_contrib(k1: float, b: float):
    """Per-(doc, term) BM25 contribution from posting columns
    (tf, df, dl) + corpus stats (n_docs, avgdl) — the one formula of
    the indexed (and so the scan) and batch search paths, so both
    produce bit-identical contributions."""
    return (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )


def _bm25_top_k(contrib: DataFrame, q: list[str], k: int) -> DataFrame:
    """Top-k (doc_id, score, matched_terms) from per-(doc, term)
    contributions `c`, score desc / doc_id asc. Per-doc scores sum the
    per-term contributions in a FIXED order (one conditional max per
    query term of the sorted list `q`, added left-to-right) so the
    double result is bit-identical across partitionings and engines —
    there is exactly one contribution per (doc, term), so max is not a
    float accumulation."""
    per_term = [
        F.coalesce(
            F.max(F.when(F.col("term") == F.lit(t), F.col("c"))), F.lit(0.0)
        )
        for t in q
    ]
    score = per_term[0]
    for p in per_term[1:]:
        score = score + p
    agg = contrib.groupBy("doc_id").agg(
        F.round(score, 6).alias("score"),
        F.count(F.lit(1)).cast("int").alias("matched_terms"),
    )
    return agg.orderBy(F.desc("score"), F.col("doc_id")).limit(k)


def build_text_index(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """The inverted-index tables behind BM25 →
    {"postings": (term, doc_id, tf), "doclen": (doc_id, dl),
     "stats": (n_docs, avgdl)}. There is no df table: the probe counts
    each query term's postings itself (`bm25_search_indexed`).

    This is the build-side of the SCALE.md retrieval story: at
    search-serving rates you pay the corpus text scan ONCE, persist
    postings bucketed by term, and every query becomes a term-bucket
    probe — the engine-native analog of the reference's Elasticsearch
    inverted index (ES does exactly this behind `match`). Postings are
    one row per (doc, term): the heavy aggregation happens at build
    time, never at query time. Unmaterialized, the same tables are the
    scan path (`bm25_search`).
    """
    dl = documents.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).cast("double").alias("dl"),
    )
    postings = _postings(
        _terms(documents, text_col, F.col(id_col).alias("doc_id"))
    ).select("term", "doc_id", F.col("tf").cast("double").alias("tf"))
    return {"postings": postings, "doclen": dl, "stats": _index_stats(dl)}


def _index_stats(doclen: DataFrame) -> DataFrame:
    """One-row corpus stats (n_docs, avgdl) of a (doc_id, dl) doc-length
    table — the one derivation behind a built index, a streamed index
    reloaded from disk (streaming/stateful.py:load_text_index) and the
    batch search. dl are integer-valued doubles: the sum is exact, so
    the avg is order-independent."""
    return doclen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def bm25_search_indexed(
    index: dict[str, DataFrame],
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k over a text index (`build_text_index` or
    `load_text_index`) → (doc_id, score, matched_terms), score desc /
    doc_id asc; `bm25_search` is this probe over an unmaterialized
    index, so the two are bit-identical. The plan touches only the
    query terms' posting rows (filter pushed to the postings scan; with
    postings bucketed/partitioned by term on disk, that's an index
    seek, not a scan). df is `count(*) OVER (PARTITION BY term)` over
    those rows, so the postings are read once per query (no df
    aggregate re-reading them); stats broadcast. The contribution
    formula and the fixed-order top-k tail are shared with the batch
    path (`_bm25_contrib`, `_bm25_top_k`). Raises ValueError when
    `query_terms` is empty.
    """
    from pyspark.sql.window import Window

    q = sorted({t.lower() for t in query_terms})
    if not q:
        raise ValueError("BM25 query has no terms: query_terms is empty")
    df_ = F.count(F.lit(1)).over(Window.partitionBy("term")).cast("double")
    contrib = (
        index["postings"]
        .filter(F.col("term").isin(q))
        .withColumn("df", df_)
        .join(index["doclen"], "doc_id")
        .crossJoin(F.broadcast(index["stats"]))
        .withColumn("c", _bm25_contrib(k1, b))
    )
    return _bm25_top_k(contrib, q, k)


def heavy_hitters(
    documents: DataFrame,
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Global top-k terms by occurrence → (term, occurrences, rank).

    The exact heavy-hitters query (vocabulary head, stopword discovery,
    boilerplate detection). One explode + one (term) aggregation with
    map-side partials, then TakeOrderedAndProject — no global sort. At
    100 TB the same shape holds (the term aggregate is vocabulary-
    sized); for sub-scan cost use sketches: hll_sketch_agg partials for
    distinct counts merge losslessly across shards (register-max), see
    tests/test_scale_helpers.py.
    """
    from pyspark.sql.window import Window

    counts = _term_counts(_terms(documents, text_col)).withColumnRenamed(
        "c", "occurrences"
    )
    w = Window.orderBy(F.desc("occurrences"), F.col("term"))
    return (
        counts.orderBy(F.desc("occurrences"), F.col("term"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def build_positional_index(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional postings → (term, doc_id, tf, positions array<int>) —
    the Elasticsearch index layout for phrase/proximity queries
    (Lucene stores term positions per doc for `match_phrase`). Same
    build shape as build_text_index with the position list carried
    through the one (term, doc_id) aggregation.
    """
    toks = _positions(documents, text_col, id_col)
    return toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.sort_array(F.collect_list("p")).alias("positions"),
    )


def phrase_match_indexed(
    postings: DataFrame,
    phrase: str,
) -> DataFrame:
    """Phrase query over a positional index → (doc_id, n_matches).

    ES `match_phrase` execution: probe each phrase term's postings,
    shift the i-th term's positions back by i, and intersect — every
    surviving position is a phrase start. The plan touches only the
    phrase terms' posting rows (filter pushed to the postings scan) and
    joins them on doc_id; corpus text is never read. Equivalent to the
    scan-side phrase_match (equivalence-tested), with cost proportional
    to the phrase terms' posting lists instead of the corpus.
    """
    terms = _phrase_terms(phrase)

    def _shift_by(i: int):
        # single-arg lambda: a 2-arg lambda would make F.transform pass
        # the ARRAY INDEX as the second argument, silently shadowing i
        return lambda p: p - F.lit(i)

    legs = []
    for i, t in enumerate(terms):
        shifted = (
            F.col("positions")
            if i == 0
            else F.transform("positions", _shift_by(i))
        )
        legs.append(
            postings.filter(F.col("term") == F.lit(t)).select(
                "doc_id", shifted.alias(f"__pos{i}")
            )
        )
    joined = legs[0]
    acc = F.col("__pos0")
    for i in range(1, len(legs)):
        joined = joined.join(legs[i], "doc_id")
        acc = F.array_intersect(acc, F.col(f"__pos{i}"))
    return (
        joined.select(
            "doc_id", F.size(acc).cast("int").alias("n_matches")
        )
        .filter(F.col("n_matches") > 0)
    )


def near_match(
    postings: DataFrame,
    term_a: str,
    term_b: str,
    slop: int = 3,
) -> DataFrame:
    """Proximity query over the positional index → (doc_id, n_pairs):
    docs where `term_a` and `term_b` occur within `slop` token positions
    (either order) — ES match_phrase-with-slop / SpanNear analog.

    Probes two posting rows per doc and counts close position pairs
    with a codegen'd nested array filter; cost follows posting-list
    length. n_pairs uses the exists-count over a's positions (each a
    position with >= 1 close b counts once) so a run of b's doesn't
    quadratically inflate the score.
    """
    pa = postings.filter(F.col("term") == F.lit(term_a.lower())).select(
        "doc_id", F.col("positions").alias("__pa")
    )
    pb = postings.filter(F.col("term") == F.lit(term_b.lower())).select(
        "doc_id", F.col("positions").alias("__pb")
    )
    close = F.size(
        F.filter(
            F.col("__pa"),
            lambda p: F.exists(
                F.col("__pb"),
                lambda q: (F.abs(q - p) <= F.lit(slop)) & (q != p),
            ),
        )
    )
    return (
        pa.join(pb, "doc_id")
        .select("doc_id", close.cast("int").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )


def readability(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading ease per document → (doc_id, n_words,
    n_sentences, n_syllables, flesch), with the standard vowel-group
    syllable approximation (each [aeiouy]+ run counts one syllable)
    and a 1-sentence floor for punctuation-free text. A curation
    quality gate alongside quality_score — pure codegen'd projection,
    scales with scan bandwidth.
    """
    t = F.col(text_col)
    n_words = F.size(tokens(F.lower(t)))
    n_sents = F.greatest(F.size(sentences(t)), F.lit(1))
    n_syll = F.size(F.regexp_extract_all(F.lower(t), F.lit("[aeiouy]+"), 0))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sents)
        - F.lit(84.6) * (n_syll / n_words)
    )
    # round to 4 places as round(x * 1e4) / 1e4 in IEEE doubles, the
    # DuckDB/C rule: a 4-place round of the double's decimal value
    # differs where the multiply lands exactly on a tie
    # (-6899.818749999999 → -6899.8188, not -6899.8187)
    flesch = F.when(
        n_words > 0, F.round(score * F.lit(1e4), 0) / F.lit(1e4)
    )
    return documents.filter(t.isNotNull()).select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        n_sents.cast("int").alias("n_sentences"),
        n_syll.cast("int").alias("n_syllables"),
        flesch.alias("flesch"),
    )


def term_cooccurrence(
    documents: DataFrame,
    window: int = 2,
    top: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top co-occurring term pairs within a forward window → (w1, w2,
    pairs): the word2vec/GloVe-style co-occurrence statistic, pairs
    normalized lexicographically so (a,b) and (b,a) accumulate together.

    Shape at scale: `_window_pairs` over `_positions` — O(T x window)
    pairs with ONE scan and one hash exchange on doc_id, the same
    pattern (and for the same reason) as dedup.doc_shingles. The pair
    count partial-aggregates; `top` is a TakeOrdered.
    """
    pairs = _window_pairs(_positions(documents, text_col, id_col), window)
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pairs"))
        .orderBy(F.desc("pairs"), "w1", "w2")
        .limit(top)
    )


def heavy_hitters_sketch(
    documents: DataFrame,
    phi: int = 200,
    candidate_cap: int = 2048,
    text_col: str = "text",
) -> DataFrame:
    """Frequency-threshold heavy hitters WITHOUT a vocabulary-wide
    aggregation → (term, occurrences) for every term with occurrences
    > n_tokens / phi. Provably exact:

    1. per-partition Misra-Gries summaries of >= `cap` counters,
       maintained across Arrow batches in mapInPandas — batch counts
       come from value_counts (C speed) and merge via the mergeable-
       summaries prune (Agarwal/Cormode et al. 2012: add counts, then
       subtract the (cap+1)-th largest and drop non-positive), which
       preserves the MG undercount bound <= n_p/cap. Emits candidate
       terms only, O(cap) state per partition regardless of
       vocabulary size;
    2. a global heavy hitter has freq > n/phi, so by pigeonhole some
       partition holds it with f_p > n_p/phi; with cap >= phi
       (ENFORCED below — the exactness proof needs it) the MG
       undercount n_p/cap <= n_p/phi < f_p, so its counter stays
       positive — every true heavy hitter survives into the candidate
       set (no false negatives);
    3. candidates (<= cap x partitions, tiny) broadcast back for ONE
       exact filtered count + threshold — false candidates die here,
       and the surviving counts are exact.

    vs `heavy_hitters`: that one shuffles the full vocabulary (fine for
    text, it's Zipf-bounded); this one bounds the shuffle at
    candidate-set size — the shape you want when the "terms" are
    high-cardinality keys (URLs, user ids, n-grams) at 100 TB.
    """
    from collections import Counter
    from collections.abc import Iterator

    # the no-false-negative proof (step 2) requires cap >= phi; lift
    # silently rather than returning a wrong (incomplete) answer
    cap = max(candidate_cap, phi)

    toks = _terms(documents, text_col)

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: Counter = Counter()
        seen = 0
        for b in batches:
            seen += len(b)
            counters.update(b["term"].value_counts().to_dict())
            if len(counters) > cap:
                # mergeable-MG prune to cap survivors
                vals = sorted(counters.values(), reverse=True)
                sub = vals[cap]
                counters = Counter(
                    {k: v - sub for k, v in counters.items() if v > sub}
                )
        # candidates + ONE per-partition token-count row (term NULL), so
        # the grand total rides the same corpus pass instead of a third
        # tokenize-and-scan job
        yield pd.DataFrame(
            {
                "term": list(counters.keys()) + [None],
                "part_n": [0] * len(counters) + [seen],
            }
        )

    # tiny (<= cap x partitions rows): materialize so candidates and the
    # total both read the checkpoint, not a re-run of the corpus pass
    summary = toks.mapInPandas(
        summarize, "term string, part_n long"
    ).transform(materialize)
    cands = summary.filter(F.col("term").isNotNull()).select("term").distinct()
    total = summary.agg(F.sum("part_n").alias("__n"))
    return (
        toks.join(F.broadcast(cands), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("occurrences") * phi > F.col("__n"))
        .select("term", F.col("occurrences").cast("long").alias("occurrences"))
    )


def bm25_search_batch(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    qtext_col: str = "query",
    with_rank: bool = False,
) -> DataFrame:
    """BM25 for a whole QUERY TABLE in one plan → per query the top-k
    (qid, doc_id, score, matched_terms), score desc / doc_id asc
    (`with_rank` appends the per-query rank — consumers like the
    hybrid fusion reuse it instead of re-computing the window).

    The batch-evaluation shape the per-query `bm25_search` can't give
    you: the reference serves one ES `match` per request, but offline
    relevance evaluation / hybrid-search calibration scores thousands
    of queries — re-planning per query would re-scan the corpus each
    time. Here the union of all query terms prunes the posting explode
    ONCE, df/tf/dl compute once, and each query joins its own terms
    back against the shared postings.

    Determinism: per-(qid, doc) scores sum MANY term contributions, so
    unlike the fixed-order single-query sum this uses the decimal-sum
    trick — each contribution rounds to 12 dp and accumulates as
    DECIMAL(28,12) (exact, associative), then rounds to 6 like every
    shared-formula output.

    Scale shape: queries are a dimension table (broadcast twice — term
    list and final attach); the corpus tokenizes exactly TWICE (r13,
    guide §1.2/§2.4): one map-only pass for the corpus stats row and
    one explode pass producing the query-restricted postings WITH the
    doc length attached in-row (dl rides the pre-explode projection,
    so the former per-doc dl join and its third corpus pass are gone).
    The postings materialize once — they feed both the df aggregate
    and the contribution join, and they are exactly the posting table
    an offline relevance-evaluation run persists; without the cut the
    corpus explode re-executed per consumer (a fourth pass). Per-query
    top-k is one window over candidate docs.
    """
    from pyspark.sql.window import Window

    qt = _query_terms(queries, qid_col, qtext_col)
    all_terms = qt.select("term").distinct()
    dl = token_count(F.col(text_col)).cast("double").alias("dl")
    stats = _index_stats(documents.select(dl))
    tf = (
        _postings(
            _terms(
                documents, text_col, F.col(id_col).alias("doc_id"), dl
            ).join(F.broadcast(all_terms), "term", "left_semi"),
            F.max("dl").alias("dl"),
        )
        .withColumn("tf", F.col("tf").cast("double"))
        .transform(materialize)
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c", F.round(_bm25_contrib(k1, b), 12).cast("decimal(28,12)")
        )
    )
    scored = (
        contrib.join(F.broadcast(qt), "term")
        .groupBy("qid", "doc_id")
        .agg(
            F.round(F.sum("c").cast("double"), 6).alias("score"),
            F.count(F.lit(1)).cast("int").alias("matched_terms"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.col("doc_id"))
    cols = ["qid", "doc_id", "score", "matched_terms"] + (
        ["rank"] if with_rank else []
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
        # the window's sort order is not a result-order guarantee —
        # pin the documented per-query ranking explicitly
        .orderBy("qid", F.desc("score"), "doc_id")
    )


# ---------------------------------------------------------------- unicode
# normalization (round 6)


def nfc_normalize_udf():
    """Vectorized NFC normalization + whitespace canonicalization:
    unicodedata.normalize('NFC', s), then runs of ASCII whitespace or
    NBSP collapse to one space, then trim.

    The CCNet/C4-style canonical-form pass that must run BEFORE any
    hash-based dedup — 'e'+COMBINING ACUTE and precomposed 'é' are the
    same text but different bytes, so without NFC the exact-dedup hash
    family silently misses them. Arrow-batched pandas_udf (the JVM has
    no NFC builtin); pure per-row map work, no shuffle, linear at any
    scale. The whitespace class is spelled explicitly ([ \\t\\r\\n\\f
    NBSP]) rather than \\s so the contract is engine-portable: Python's
    unicode \\s and RE2's ASCII \\s disagree on NBSP.
    """
    import re
    import unicodedata

    pat = re.compile("[ \t\r\n\f\u00a0]+")

    @F.pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            # strip only plain spaces: after the class collapse the
            # edges can only hold ' ' or codepoints OUTSIDE the portable
            # class (e.g. \x0b), which the DuckDB trim() also leaves
            return pat.sub(" ", unicodedata.normalize("NFC", x)).strip(" ")

        return s.map(one)

    return norm


def normalize_text_report(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document normalization report: codepoint counts before/after
    NFC+whitespace canonicalization, a changed flag, and the md5 of the
    normalized form (so an oracle can value-check the actual bytes
    without shipping the text).

    → (doc_id, n_raw, n_norm, changed, norm_md5)
    """
    norm = nfc_normalize_udf()(F.col(text_col))
    out = docs.select(
        F.col(id_col),
        F.col(text_col).alias("__raw"),
        F.length(F.col(text_col)).alias("n_raw"),
        norm.alias("__norm"),
    )
    # changed compares the STRINGS, not lengths: an NBSP->space rewrite
    # preserves codepoint count but changes bytes, and `changed` is what
    # tells a consumer which docs to re-hash
    return out.select(
        id_col,
        "n_raw",
        F.length("__norm").alias("n_norm"),
        (F.col("__norm") != F.col("__raw")).alias("changed"),
        F.md5(F.encode(F.col("__norm"), "UTF-8")).alias("norm_md5"),
    )


def rm3_expansion(
    documents: DataFrame,
    queries: DataFrame,
    fb_k: int = 5,
    top_terms: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    qtext_col: str = "query",
) -> DataFrame:
    """RM3-style pseudo-relevance-feedback query expansion → per query
    the top expansion terms mined from its BM25 feedback set:
    (qid, rank, term, weight).

    The relevance-model recipe (Lavrenko & Croft): retrieve the top
    fb_k documents per query, weight every term in them by
    Σ_d tf(term, d) · score(d) — term prominence inside documents the
    ranker already believes in — and drop the original query terms.
    The batch sibling of the reference's single-shot ES `match` search:
    expansion runs offline over the whole query log, and the expanded
    terms feed the next retrieval round (bm25_batch / hybrid_search).

    Exactness: doc scores are the 6-dp-rounded BM25 outputs; each
    (term, doc) weight contribution tf·score is exact in
    DECIMAL(28,6) (integer tf x 6-dp score), so the per-(qid, term)
    sum is associative and the closing round(·, 6) engine-portable.

    Scale shape: the feedback set is (n_queries x fb_k) rows —
    broadcast; tokens explode ONLY feedback documents (left-semi
    prune before the explode, same discipline as bm25_search_batch);
    ranking is one window over (qid, term) aggregates.
    """
    from pyspark.sql.window import Window

    if fb_k < 1 or top_terms < 1:
        raise ValueError(
            f"need fb_k >= 1 and top_terms >= 1; got ({fb_k}, {top_terms})"
        )
    # the feedback set feeds TWO consumers (the doc prune and the
    # weight join) and is n_queries x fb_k rows — materialize it once
    # or the entire BM25 subtree re-executes per consumer
    fb = (
        bm25_search_batch(
            documents,
            queries,
            k=fb_k,
            id_col=id_col,
            text_col=text_col,
            qid_col=qid_col,
            qtext_col=qtext_col,
        )
        .select(
            "qid",
            "doc_id",
            F.col("score").cast("decimal(18,6)").alias("__sc"),
        )
        .transform(materialize)
    )

    fb_docs = fb.select("doc_id").distinct()
    toks = _postings(
        _terms(documents, text_col, F.col(id_col).alias("doc_id")).join(
            F.broadcast(fb_docs), "doc_id", "left_semi"
        )
    )
    qterms = _query_terms(queries, qid_col, qtext_col)
    weighted = (
        toks.join(F.broadcast(fb), "doc_id")
        .groupBy("qid", "term")
        .agg(
            F.round(
                F.sum(
                    (F.col("tf") * F.col("__sc")).cast("decimal(28,6)")
                ).cast("double"),
                6,
            ).alias("weight")
        )
        .join(F.broadcast(qterms), ["qid", "term"], "left_anti")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("weight"), F.col("term"))
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_terms)
        .select("qid", F.col("rank").cast("int"), "term", "weight")
    )


def textrank_terms(
    documents: DataFrame,
    window: int = 2,
    top_edges: int = 100,
    n_iter: int = 3,
    top_n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction → (rank, term, pagerank): PageRank
    over the term co-occurrence graph (Mihalcea & Tarau) — the corpus's
    structurally central vocabulary, as opposed to merely frequent
    (heavy_hitters) or cluster-distinctive (topic_cluster_terms) terms.

    Pure composition: term_cooccurrence builds the edge list (top
    `top_edges` pairs — the standard TextRank pruning, which also
    bounds the graph to vocabulary scale regardless of corpus size),
    dedup.pagerank_pairs walks the fixed-iteration rounded trajectory
    over it, and the final ranking is one window over <= 2·top_edges
    nodes — a deliberately tiny global sort, never corpus-ordered.
    The edge list localCheckpoints: PageRank consumes it in every
    unrolled iteration (joins + degree + node set) and it is ~100 rows.
    """
    from pyspark.sql.window import Window

    from data_pipeline2_spark.operators.dedup import pagerank_pairs

    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    edges = term_cooccurrence(
        documents, window=window, top=top_edges,
        id_col=id_col, text_col=text_col,
    ).transform(materialize)
    ranks = pagerank_pairs(edges, n_iter=n_iter, id_a="w1", id_b="w2")
    w = Window.orderBy(F.desc("pagerank"), F.col("node"))
    return (
        ranks.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.col("rank").cast("int"),
            F.col("node").alias("term"),
            "pagerank",
        )
    )


def cms_sketch(
    documents: DataFrame,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Count-Min sketch of the corpus unigram distribution → one row
    per non-empty cell: (row_j, bucket, bucket_count).

    Cormode & Muthukrishnan 2005: a depth x width counter grid; word w
    increments cell (j, h_j(w)) for every row j. The sketch is LINEAR
    (sketch(A ∪ B) = sketch(A) + sketch(B) cell-wise — the mergeability
    test pins this), so shard partials union losslessly: the 100 TB
    deployment keeps one d·w grid per executor partition and merges by
    summation, like the HLL/KMV sketches already in the engine. Hash
    family: the engine-wide 60-bit md5 prefix over "j|word" reduced
    mod width — deterministic, engine-portable, non-negative.

    Scale shape: exact per-word counts aggregate FIRST (one exchange,
    vocabulary-bounded output — the sketch is linear so inserting
    count-weighted words equals inserting occurrences), then d rows per
    distinct word feed the (j, bucket) aggregation whose output is at
    most d·w cells regardless of corpus size. Document text never
    shuffles; the second exchange carries (int, int, long) triples.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    return _cms_from_counts(
        _term_counts(_terms(documents, text_col)), depth, width
    )


def _cms_bucket(row_j: Column, w: Column, width: int) -> Column:
    from data_pipeline2_spark.operators.dedup import shingle_hash64

    return (
        F.pmod(
            shingle_hash64(F.concat_ws("|", row_j.cast("string"), w)),
            F.lit(width),
        )
        .cast("int")
        .alias("bucket")
    )


def _cms_from_counts(counts: DataFrame, depth: int, width: int) -> DataFrame:
    return (
        counts.select(
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias(
                "row_j"
            ),
            F.col("term"),
            F.col("c"),
        )
        .select(
            "row_j",
            _cms_bucket(F.col("row_j"), F.col("term"), width),
            "c",
        )
        .groupBy("row_j", "bucket")
        .agg(F.sum("c").cast("long").alias("bucket_count"))
    )


def cms_frequency_eval(
    documents: DataFrame,
    depth: int = 4,
    width: int = 1024,
    probes: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Count-Min point estimates vs exact counts for the corpus's top
    `probes` words → (word, exact_c, cms_est, overestimate).

    The winnow_span_recall_eval discipline applied to the sketch: the
    CMS guarantee (est >= true always; est <= true + eps·N with
    probability 1 - e^-depth at eps = e/width) is MEASURED, not
    assumed — `overestimate` = est − exact is the per-word error the
    driver value-checks, and the structural one-sided bound means a
    single negative value anywhere is a broken sketch.

    Scale shape: the corpus aggregates ONCE into the vocabulary-bounded
    word-count table, which localCheckpoints (the textrank-edges idiom)
    and feeds both the sketch build and the probe selection — one
    corpus scan total. The sketch is d·w cells and the probe set is
    `probes` rows, so the estimate join broadcasts both small tables;
    probe selection (top by count, word tie-break) is a TakeOrdered
    over the count table, never a corpus sort.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    counts = _term_counts(_terms(documents, text_col)).transform(materialize)
    sketch = _cms_from_counts(counts, depth, width)
    probe_rows = counts.orderBy(F.desc("c"), F.col("term")).limit(probes)
    probed = probe_rows.select(
        F.col("term"),
        F.col("c"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row_j"),
    ).select(
        "term",
        "c",
        "row_j",
        _cms_bucket(F.col("row_j"), F.col("term"), width),
    )
    # every probed cell exists in the sketch (the probe's own count is
    # in it), so the inner join is lossless by construction
    est = (
        probed.join(F.broadcast(sketch), ["row_j", "bucket"])
        .groupBy("term", "c")
        .agg(F.min("bucket_count").cast("long").alias("cms_est"))
    )
    return est.select(
        F.col("term").alias("word"),
        F.col("c").cast("long").alias("exact_c"),
        "cms_est",
        (F.col("cms_est") - F.col("c")).cast("long").alias("overestimate"),
    )


def pmi_collocations(
    documents: DataFrame,
    window: int = 2,
    min_pairs: int = 5,
    top: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top collocations by pointwise mutual information → (w1, w2,
    pairs, pmi_scaled): the classical collocation-mining upgrade of
    `term_cooccurrence`'s raw counts (Church & Hanks 1990).

    PMI = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) = c_ab / N_pairs and
    p(w) = c_w / N_tokens, computed as ONE ln over an exact integer
    ratio assembled in a pinned multiplication order —
    ln((c_ab·N_tok·N_tok) / (N_pairs·c_a·c_b)) — then floor-integerized
    at 1e10 (the engine's associative-log discipline). `min_pairs`
    floors the pair count: PMI famously explodes on hapax pairs, and
    the floor is what keeps the ranking stable under corpus growth.

    Scale shape: pair generation is `_window_pairs` over `_positions`,
    shared with term_cooccurrence (one doc_id exchange, O(T·window)
    rows); pair and unigram counts partial-aggregate; the unigram
    table is vocabulary-bounded, localCheckpoints (the textrank-edges
    idiom), and joins back BROADCAST twice; N_tok and N_pairs come CLOSED-FORM from per-doc
    token counts (N_pairs = Σ_docs Σ_i max(L−i, 0) — exactly the pair
    table's total, without re-executing its subtree), so neither total
    re-runs a corpus aggregation; `top` is a TakeOrdered over the
    min_pairs-floored pair table. Corpus text never shuffles.
    """
    toks = _positions(documents, text_col, id_col)
    pairs = (
        _window_pairs(toks, window)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pairs"))
    )
    if min_pairs < 1:
        raise ValueError(f"min_pairs must be >= 1, got {min_pairs}")
    uni = (
        toks.groupBy(F.col("term").alias("w"))
        .agg(F.count(F.lit(1)).alias("cw"))
        .transform(materialize)
    )
    per_doc_len = documents.filter(F.col(text_col).isNotNull()).select(
        F.size(tokens(F.col(text_col))).cast("long").alias("L")
    )
    totals = per_doc_len.agg(
        F.sum("L").alias("n_tok"),
        F.sum(
            sum(
                F.greatest(F.col("L") - i, F.lit(0))
                for i in range(1, window + 1)
            )
        ).alias("n_pairs"),
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    scored = (
        pairs.filter(F.col("pairs") >= min_pairs)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("pairs").cast("long").alias("pairs"),
            F.floor(
                F.log(
                    (
                        F.col("pairs").cast("double")
                        * F.col("n_tok").cast("double")
                        * F.col("n_tok").cast("double")
                    )
                    / (
                        F.col("n_pairs").cast("double")
                        * F.col("c1").cast("double")
                        * F.col("c2").cast("double")
                    )
                )
                * F.lit(1e10)
            )
            .cast("long")
            .alias("pmi_scaled"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_scaled"), F.col("w1"), F.col("w2")
    ).limit(top)


def zipf_fit(
    documents: DataFrame,
    top_ranks: int = 500,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source Zipf's-law fit over the top `top_ranks` vocabulary →
    (source, n_ranks, slope, intercept, r2): OLS of ln(freq) on
    ln(rank). Natural text sits near slope −1 (Zipf 1949); generated
    boilerplate, template spam, and truncated-vocabulary corpora bend
    the slope or crush r² — the corpus-health diagnostic next to
    vocab_stats' hapax counts.

    Exactness: x = floor(ln(rank)·1e6), y = floor(ln(count)·1e6) are
    BIGINTs; all five regression sums stay exact BIGINTs (bounded by
    top_ranks · (3e7)² < 2^63) and the n·Σ − Σ·Σ combinations are
    DECIMAL(38,0) — slope/intercept/r² are the ONLY closing float
    expressions, computed in pinned order and rounded at 6. Degenerate
    groups (one rank, or zero x-variance) emit NULL fit columns but
    keep their row.

    Scale shape: one (source, word) count aggregation; the rank window
    partitions by source and is capped at `top_ranks` rows per source
    immediately, so the regression aggregates a bounded table no matter
    the vocabulary size. The full-vocabulary tail never enters a window:
    the cap filter runs inside the same windowed projection.
    """
    from pyspark.sql.window import Window

    if top_ranks < 2:
        raise ValueError(f"top_ranks must be >= 2, got {top_ranks}")
    counts = (
        _terms(documents, text_col, F.col(group_col).alias("source"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.col("term"))
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_ranks)
        .select(
            "source",
            F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e6))
            .cast("long")
            .alias("x"),
            F.floor(F.log(F.col("c").cast("double")) * F.lit(1e6))
            .cast("long")
            .alias("y"),
        )
    )
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    dec = "decimal(38,0)"
    num = F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col("sx").cast(
        dec
    ) * F.col("sy").cast(dec)
    denx = F.col("n").cast(dec) * F.col("sxx").cast(dec) - F.col(
        "sx"
    ).cast(dec) * F.col("sx").cast(dec)
    deny = F.col("n").cast(dec) * F.col("syy").cast(dec) - F.col(
        "sy"
    ).cast(dec) * F.col("sy").cast(dec)
    slope_d = num.cast("double") / denx.cast("double")
    fit_ok = (F.col("n") >= 2) & (denx != F.lit(0).cast(dec))
    return agg.select(
        "source",
        F.col("n").alias("n_ranks"),
        F.when(fit_ok, F.round(slope_d, 6)).alias("slope"),
        F.when(
            fit_ok,
            F.round(
                (
                    F.col("sy").cast("double")
                    - slope_d * F.col("sx").cast("double")
                )
                / F.col("n").cast("double")
                / F.lit(1e6),
                6,
            ),
        ).alias("intercept"),
        F.when(
            fit_ok & (deny != F.lit(0).cast(dec)),
            F.round(
                (num.cast("double") * num.cast("double"))
                / (denx.cast("double") * deny.cast("double")),
                6,
            ),
        ).alias("r2"),
    )


def texttiling_boundaries(
    documents: DataFrame,
    sent_tokens: int = 10,
    block_sents: int = 2,
    peak_window: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TextTiling topic segmentation (Hearst 1997, block-comparison
    variant) → one row per document with >= 1 gap: (doc_id, n_gaps,
    n_boundaries, boundary_gap_sum, boundary_gap_sq_sum,
    max_depth_scaled).

    The corpus chunker's linguistics-aware sibling: documents split
    into k-token pseudo-sentences (trailing partial excluded); at each
    gap g the lexical-cohesion score is the cosine between the term
    vectors of the `block_sents` pseudo-sentences on each side; the
    DEPTH at g is (peak_left − sim) + (peak_right − sim) with peaks =
    the max score within `peak_window` gaps on each side (the bounded-
    window form of Hearst's hill-climb, deterministic and
    window-expressible); g is a topic boundary when depth·n_gaps >
    Σ depths (the mean-depth cutoff cross-multiplied so the rule is
    EXACT integer arithmetic — no float mean enters the verdict).

    Exactness: term vectors are integer counts, so dot/norms are exact
    BIGINTs; sim integerizes as floor(dot/sqrt(nl·nr)·1e6) — ONE float
    expression per gap in pinned order — and everything after (peaks,
    depths, cutoff, checksums) is integer.

    Scale shape: one (doc, sent, term) aggregation, one (doc, gap,
    side, term) aggregation (each sent-term row fans out to at most
    2·block_sents gap memberships map-side), a (doc, gap, term)-keyed
    join of the two sides, and per-doc windows over GAP-cardinality
    rows. Token text never shuffles (terms ride as 60-bit md5
    fingerprints); every window partitions by doc_id.
    """
    from pyspark.sql.window import Window

    from data_pipeline2_spark.operators.dedup import shingle_hash64

    if sent_tokens < 1 or block_sents < 1 or peak_window < 1:
        raise ValueError(
            "sent_tokens, block_sents, peak_window must all be >= 1"
        )
    k, b = int(sent_tokens), int(block_sents)
    toks = _positions(documents, text_col, id_col)
    # full pseudo-sentences only: sent s covers tokens [s*k, (s+1)*k)
    sent_terms = (
        toks.withColumn("s", F.floor(F.col("p") / k).cast("int"))
        .withColumn(
            "__n_sents",
            F.floor((F.max("p").over(Window.partitionBy("doc_id")) + 1) / k)
            .cast("int"),
        )
        .filter(F.col("s") < F.col("__n_sents"))
        .groupBy(
            "doc_id", "__n_sents", "s", shingle_hash64(F.col("term")).alias("t")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # gap g exists for b <= g <= n_sents - b; sent s feeds the LEFT
    # block of gaps (s+1 .. s+b) and the RIGHT block of (s-b+1 .. s)
    sides = sent_terms.select(
        "doc_id",
        "__n_sents",
        "t",
        "c",
        F.explode(
            F.flatten(
                F.array(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(b)),
                        lambda i: F.struct(
                            (F.col("s") + i).alias("g"),
                            F.lit("L").alias("side"),
                        ),
                    ),
                    F.transform(
                        F.sequence(F.lit(1), F.lit(b)),
                        lambda i: F.struct(
                            (F.col("s") - i + 1).alias("g"),
                            F.lit("R").alias("side"),
                        ),
                    ),
                )
            )
        ).alias("m"),
    ).select(
        "doc_id",
        "__n_sents",
        "t",
        "c",
        F.col("m.g").alias("g"),
        F.col("m.side").alias("side"),
    ).filter(
        (F.col("g") >= b) & (F.col("g") <= F.col("__n_sents") - b)
    )
    # both sides pivot in ONE aggregation (a left/right filter split
    # would re-execute the whole subtree once per side and need a
    # full-outer join back — measured 6 exchanges vs 4)
    joined = sides.groupBy("doc_id", "g", "t").agg(
        F.coalesce(
            F.sum(F.when(F.col("side") == "L", F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("cl"),
        F.coalesce(
            F.sum(F.when(F.col("side") == "R", F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("cr"),
    )
    sims = joined.groupBy("doc_id", "g").agg(
        F.sum(F.col("cl") * F.col("cr")).cast("long").alias("dot"),
        F.sum(F.col("cl") * F.col("cl")).cast("long").alias("nl"),
        F.sum(F.col("cr") * F.col("cr")).cast("long").alias("nr"),
    )
    sim = F.when(
        (F.col("nl") > 0) & (F.col("nr") > 0),
        F.floor(
            F.col("dot").cast("double")
            / F.sqrt(F.col("nl").cast("double") * F.col("nr").cast("double"))
            * F.lit(1e6)
        ).cast("long"),
    ).otherwise(F.lit(0))
    scored = sims.select("doc_id", "g", sim.alias("sim"))
    wg = Window.partitionBy("doc_id").orderBy("g")
    wl = wg.rowsBetween(-peak_window, -1)
    wr = wg.rowsBetween(1, peak_window)
    depth = F.greatest(
        F.coalesce(F.max("sim").over(wl), F.col("sim")) - F.col("sim"),
        F.lit(0),
    ) + F.greatest(
        F.coalesce(F.max("sim").over(wr), F.col("sim")) - F.col("sim"),
        F.lit(0),
    )
    wd = Window.partitionBy("doc_id")
    depths = scored.select(
        "doc_id", "g", "sim", depth.cast("long").alias("depth")
    ).select(
        "doc_id",
        "g",
        "depth",
        (
            F.col("depth") * F.count(F.lit(1)).over(wd)
            > F.sum("depth").over(wd)
        ).alias("is_boundary"),
    )
    return depths.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.col("is_boundary").cast("long")).cast("long").alias(
            "n_boundaries"
        ),
        F.sum(
            F.when(F.col("is_boundary"), F.col("g")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("boundary_gap_sum"),
        F.sum(
            F.when(F.col("is_boundary"), F.col("g") * F.col("g")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("boundary_gap_sq_sum"),
        F.max("depth").cast("long").alias("max_depth_scaled"),
    )


def heaps_fit(
    documents: DataFrame,
    n_checkpoints: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit → ONE row: (n_checkpoints,
    n_tokens_total, vocab_total, beta, ln_k, r2). V(N) ≈ K·N^β
    (Heaps 1978; β ≈ 0.5–0.8 for natural text) — the growth companion
    of `zipf_fit`'s rank diagnostic: template/generated corpora flatten
    β (vocabulary saturates), OCR noise inflates it toward 1.

    Corpus order is doc_id order. Checkpoints are `n_checkpoints`
    equal-width doc_id thresholds between min and max (VALUE-based, so
    they come from one min/max aggregate — never a corpus-rank
    quantile); at each threshold the curve point is (N = tokens in docs
    at-or-below, V = words whose FIRST document is at-or-below). The
    fit is OLS of ln V on ln N over the checkpoints with positive N and
    V, in the zipf_fit exactness discipline: integerized logs, BIGINT
    sums, DECIMAL(38,0) combinations, closing floats pinned.

    Scale shape: one word→min-doc aggregation (vocabulary-bounded
    output) and one per-doc token-count projection feed two
    checkpoint-conditional aggregates of `n_checkpoints` cells each —
    no global window, no corpus sort, nothing rank-based anywhere.
    """
    if n_checkpoints < 3:
        raise ValueError(f"n_checkpoints must be >= 3, got {n_checkpoints}")
    C = int(n_checkpoints)
    toks = _terms(documents, text_col, F.col(id_col).alias("doc_id"))
    bounds = toks.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    first_doc = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    doc_tokens = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("ntok")
    )
    # threshold_i = lo + ceil(i * (hi - lo) / C), i = 1..C — pinned
    # DOUBLE division mirrored verbatim in the oracle (exact while
    # i·(hi−lo) < 2^53, far beyond any doc_id range; the last
    # threshold is exactly hi)
    def thr(i: int):
        return F.col("lo") + F.ceil(
            F.lit(i) * (F.col("hi") - F.col("lo")) / F.lit(C)
        ).cast("long")

    vocab_cells = first_doc.crossJoin(F.broadcast(bounds)).agg(
        *[
            F.sum((F.col("fd") <= thr(i)).cast("long")).alias(f"v{i}")
            for i in range(1, C + 1)
        ]
    )
    token_cells = doc_tokens.crossJoin(F.broadcast(bounds)).agg(
        *[
            F.sum(
                F.when(F.col("doc_id") <= thr(i), F.col("ntok")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias(f"n{i}")
            for i in range(1, C + 1)
        ]
    )
    pts = (
        vocab_cells.crossJoin(F.broadcast(token_cells))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"n{i}").alias("nn"),
                            F.col(f"v{i}").alias("vv"),
                        )
                        for i in range(1, C + 1)
                    ]
                )
            ).alias("pt")
        )
        .select(F.col("pt.nn").alias("nn"), F.col("pt.vv").alias("vv"))
        .filter((F.col("nn") > 0) & (F.col("vv") > 0))
        .select(
            "nn",
            "vv",
            F.floor(F.log(F.col("nn").cast("double")) * F.lit(1e6))
            .cast("long")
            .alias("x"),
            F.floor(F.log(F.col("vv").cast("double")) * F.lit(1e6))
            .cast("long")
            .alias("y"),
        )
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("nn").cast("long").alias("n_tokens_total"),
        F.max("vv").cast("long").alias("vocab_total"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    dec = "decimal(38,0)"
    num = F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col("sx").cast(
        dec
    ) * F.col("sy").cast(dec)
    denx = F.col("n").cast(dec) * F.col("sxx").cast(dec) - F.col(
        "sx"
    ).cast(dec) * F.col("sx").cast(dec)
    deny = F.col("n").cast(dec) * F.col("syy").cast(dec) - F.col(
        "sy"
    ).cast(dec) * F.col("sy").cast(dec)
    slope_d = num.cast("double") / denx.cast("double")
    fit_ok = (F.col("n") >= 2) & (denx != F.lit(0).cast(dec))
    return agg.select(
        F.col("n").alias("n_checkpoints"),
        "n_tokens_total",
        "vocab_total",
        F.when(fit_ok, F.round(slope_d, 6)).alias("beta"),
        F.when(
            fit_ok,
            F.round(
                (
                    F.col("sy").cast("double")
                    - slope_d * F.col("sx").cast("double")
                )
                / F.col("n").cast("double")
                / F.lit(1e6),
                6,
            ),
        ).alias("ln_k"),
        F.when(
            fit_ok & (deny != F.lit(0).cast(dec)),
            F.round(
                (num.cast("double") * num.cast("double"))
                / (denx.cast("double") * deny.cast("double")),
                6,
            ),
        ).alias("r2"),
    )


# American Soundex letter→code map (Russell 1918 / ANSI): vowels+y → 0
# (separators), h/w → 9 (REMOVED before run-collapse, so codes merge
# across them — the 'ashcraft' rule), consonant classes 1-6.
_SOUNDEX_MAP = "01230129022455012623019202"


def soundex(word: Column) -> Column:
    """American Soundex code of a lowercase alphabetic word (e.g.
    'robert' → 'R163'). Pure Catalyst: translate → drop h/w → collapse
    adjacent equal codes (Java-regex backreference) → drop the first
    letter's own code (unless the word starts with h/w, which
    contributed none) → drop separators → first 3 digits, zero-padded.
    The DuckDB oracle replays the collapse with log-halving replace
    passes because RE2 has no backreferences — identical output for
    words up to 30 chars (the eligibility cap)."""
    w = word
    first = F.substring(w, 1, 1)
    digits = F.translate(w, "abcdefghijklmnopqrstuvwxyz", _SOUNDEX_MAP)
    d1 = F.replace(digits, F.lit("9"), F.lit(""))
    d2 = F.regexp_replace(d1, r"([1-6])\1+", "$1")
    d3 = F.when(first.isin("h", "w"), d2).otherwise(F.substring(d2, 2, 64))
    d4 = F.replace(d3, F.lit("0"), F.lit(""))
    return F.concat(F.upper(first), F.rpad(F.substring(d4, 1, 3), 3, "0"))


def phonetic_vocab_groups(
    documents: DataFrame,
    min_variants: int = 2,
    sample_n: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Phonetic vocabulary blocking over the corpus → one row per
    Soundex bucket: (soundex, n_variants, total_occurrences,
    variants_sample, variant_candidate): buckets holding >=
    `min_variants` distinct alphabetic words flag as spelling-variant
    candidates — the classic blocking key for typo/OCR-noise detection
    and record linkage (Russell 1918; the blocking stage of
    Fellegi-Sunter matchers), complementing `fuzzy_join_ed1`'s
    edit-distance arm with sound-alike recall that edit distance
    misses ('smith'/'smyth', 'catherine'/'kathryn'). Every bucket
    ships (flagged, not filtered): the per-code census is itself the
    blocking-selectivity report a linkage job sizes its joins with.

    Eligibility: 1–30 char lowercase-alphabetic words (the length cap
    also bounds the oracle's collapse passes). variants_sample = the
    top `sample_n` variants by (count desc, word) joined with '|' —
    deterministic, and enough to eyeball a group.

    Scale shape: one (word) count aggregation (vocabulary-bounded
    output), the Soundex chain map-side over the vocab table, one
    per-code window for the sample, one code rollup. The corpus pays
    exactly one exchange.
    """
    from pyspark.sql.window import Window

    if min_variants < 2:
        raise ValueError(f"min_variants must be >= 2, got {min_variants}")
    if sample_n < 1:
        raise ValueError(f"sample_n must be >= 1, got {sample_n}")
    vocab = _term_counts(_terms(documents, text_col)).filter(
        F.col("term").rlike("^[a-z]{1,30}$")
    )
    coded = vocab.withColumn("soundex", soundex(F.col("term")))
    wn = Window.partitionBy("soundex").orderBy(F.desc("c"), F.col("term"))
    ranked = coded.withColumn("__rn", F.row_number().over(wn))
    return (
        ranked.groupBy("soundex")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.sum("c").cast("long").alias("total_occurrences"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") <= sample_n,
                                F.struct(
                                    F.col("__rn").alias("rn"),
                                    F.col("term"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["term"],
                ),
                "|",
            ).alias("variants_sample"),
        )
        .withColumn(
            "variant_candidate", F.col("n_variants") >= min_variants
        )
    )
