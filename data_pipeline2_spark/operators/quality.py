"""Pretraining-corpus quality filters and corpus-statistics operators.

Round-5 additions to the LLM-data-pipeline family: the published
heuristic filter suites (Gopher, Rae et al. 2021 §A1.1; C4, Raffel et
al. 2020 §2.2) as per-document metric rows with a composite pass flag,
Gopher's duplicate-line repetition signals, URL density, and exact
integer-arithmetic corpus statistics (token rarity vs the corpus
unigram table, vocabulary stats, cross-source n-gram containment).

Scale shape: the per-document filters are pure Catalyst expressions —
map-side, no shuffle, no UDFs; the corpus statistics shuffle only
hashed tokens/shingles (longs, never document text). Everything is
deterministic and replayed exactly by the DuckDB oracles (integer
counts; ratios are single IEEE divisions of exact integers, rounded).

Reference parity note: the reference pipeline has no quality filters —
these extend SURVEY.md §2.10's north-star scope (dedup / text-analysis
for training data) with the public filter suites a 100 TB curation run
applies before dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline2_spark.functions.text import sentences, tokens
from data_pipeline2_spark.operators.dedup import shingle_fingerprints, shingle_hash64
from data_pipeline2_spark.operators.textanalysis import (
    _ngrams,
    _positions,
    _term_counts,
    _terms,
    _train_held,
)
from data_pipeline2_spark.plans.materialize import materialize

# Gopher's "at least two of these English words" existence check
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# bullet glyphs for the Gopher bullet-line rule ('-'/'*' cover the
# markdown-style corpora the testdata emulates)
_BULLETS = ["•", "‣", "▪", "-", "*"]


def _occurrences(t: Column, needle: str) -> Column:
    """Non-overlapping occurrence count via replace-length delta —
    identical left-to-right semantics in Spark and DuckDB."""
    return (
        (F.length(t) - F.length(F.replace(t, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def _nonblank_lines(t: Column) -> Column:
    """array<string> of lines with non-whitespace content. Splits on
    \\r?\\n so CRLF corpora don't smuggle a trailing \\r into the
    line-suffix rules (ellipsis/terminal-punctuation endswith)."""
    return F.filter(F.split(t, r"\r?\n"), lambda x: F.length(F.trim(x)) > 0)


def _ratio(num: Column, den: Column) -> Column:
    """round(num/den, 6) with a 0-denominator guard — one IEEE division
    of exact integers, deterministic across engines."""
    return F.round(num / F.greatest(den, F.lit(1)), 6)


def gopher_quality(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher rule metrics per document → (doc_id, n_words,
    mean_word_len, symbol_word_ratio, bullet_line_frac,
    ellipsis_line_frac, alpha_word_frac, stopword_hits, gopher_pass).

    The published thresholds (Rae et al. 2021, §A1.1): 50 <= words <=
    100k, 3 <= mean word length <= 10, symbol-to-word ratio <= 0.1
    (hash + ellipsis), < 90% bullet-started lines, < 30%
    ellipsis-ended lines, >= 80% words with an alphabetic char, >= 2
    of 8 common English words. Map-side only; every ratio is a single
    division of exact integer counts.
    """
    t = F.col(text_col)
    m = gopher_cols(t)
    return documents.filter(t.isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        *[c.alias(name) for name, c in m.items()],
    )


def gopher_cols(t: Column) -> dict[str, Column]:
    """Named Gopher metric expressions over a text column — shared by
    gopher_quality and fused consumers (curation_report): one scan, no
    joins, same discipline as textanalysis.quality_feature_cols."""
    toks = tokens(t)
    n_words = F.size(toks).cast("long")
    word_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_word_len = _ratio(word_chars, n_words)
    n_symbols = _occurrences(t, "#") + _occurrences(t, "...") + _occurrences(t, "…")
    symbol_ratio = _ratio(n_symbols, n_words)

    lines = _nonblank_lines(t)
    n_lines = F.size(lines).cast("long")
    bullet_first = F.filter(
        lines, lambda x: F.substring(F.ltrim(x), 1, 1).isin(*_BULLETS)
    )
    ellipsis_last = F.filter(
        lines,
        lambda x: F.rtrim(x).endswith("...") | F.rtrim(x).endswith("…"),
    )
    bullet_frac = _ratio(F.size(bullet_first).cast("long"), n_lines)
    ellipsis_frac = _ratio(F.size(ellipsis_last).cast("long"), n_lines)

    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = _ratio(alpha_words.cast("long"), n_words)
    low = F.transform(toks, lambda w: F.lower(w))
    stop_hits = sum(
        (F.array_contains(low, w).cast("int") for w in GOPHER_STOPWORDS),
        F.lit(0),
    ).cast("int")

    gopher_pass = (
        n_words.between(50, 100_000)
        & mean_word_len.between(3.0, 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
        & (alpha_frac >= 0.8)
        & (stop_hits >= 2)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_word_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "stopword_hits": stop_hits,
        "gopher_pass": gopher_pass,
    }


def c4_quality(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4 rule metrics per document → (doc_id, n_lines,
    term_punct_line_frac, five_word_line_frac, n_sentences,
    has_lorem_ipsum, has_brace, n_javascript_lines, c4_pass).

    The published C4 heuristics (Raffel et al. 2020, §2.2): keep lines
    ending in terminal punctuation and with >= 5 words (reported as
    fractions), drop pages with < 3 sentences, 'lorem ipsum', '{', or
    'javascript' lines. Map-side only.
    """
    t = F.col(text_col)
    m = c4_cols(t)
    return documents.filter(t.isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        *[c.alias(name) for name, c in m.items()],
    )


def c4_cols(t: Column) -> dict[str, Column]:
    """Named C4 metric expressions over a text column (see c4_quality)."""
    lines = _nonblank_lines(t)
    n_lines = F.size(lines).cast("long")
    term_punct = F.filter(
        lines,
        lambda x: F.substring(F.rtrim(x), -1, 1).isin(".", "!", "?", '"'),
    )
    five_word = F.filter(
        lines, lambda x: F.size(F.split(F.trim(x), r"\s+")) >= 5
    )
    js_lines = F.filter(lines, lambda x: F.lower(x).contains("javascript"))
    n_sentences = F.size(sentences(t)).cast("long")
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    n_js = F.size(js_lines).cast("long")
    c4_pass = (
        (n_sentences >= 3) & ~has_lorem & ~has_brace & (n_js == 0)
    )
    return {
        "n_lines": n_lines,
        "term_punct_line_frac": _ratio(
            F.size(term_punct).cast("long"), n_lines
        ),
        "five_word_line_frac": _ratio(
            F.size(five_word).cast("long"), n_lines
        ),
        "n_sentences": n_sentences,
        "has_lorem_ipsum": has_lorem,
        "has_brace": has_brace,
        "n_javascript_lines": n_js,
        "c4_pass": c4_pass,
    }


def dup_line_stats(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher repetition signals per document → (doc_id, n_lines,
    dup_line_frac, dup_line_char_frac).

    dup_line_frac = line occurrences beyond each line's first / total
    lines; dup_line_char_frac = the characters those repeat occurrences
    carry / total line characters (Rae et al. 2021 §A1.1's "duplicate
    line fraction" pair). Lines are trimmed, blank lines drop.

    Scale shape: lines explode map-side, then ONE aggregation keyed on
    (doc_id, 60-bit line fingerprint) — the shuffle carries (long,
    long, int) triples, never line text; the per-doc rollup reuses the
    same hash partitioning modulo the dropped fingerprint column.
    """
    t = F.col(text_col)
    lines = documents.filter(t.isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.transform(_nonblank_lines(t), lambda x: F.trim(x))
        ).alias("line"),
    )
    hashed = lines.select(
        "doc_id",
        # the engine-wide 60-bit md5-prefix fingerprint family
        shingle_hash64(F.col("line")).alias("line_h"),
        F.length("line").alias("line_len"),
    )
    per_line = hashed.groupBy("doc_id", "line_h").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("line_len").alias("line_len"),
    )
    per_doc = per_line.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("cnt") - 1).alias("dup_lines"),
        F.sum(F.col("cnt") * F.col("line_len")).alias("n_chars"),
        F.sum((F.col("cnt") - 1) * F.col("line_len")).alias("dup_chars"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        _ratio(F.col("dup_lines"), F.col("n_lines")).alias("dup_line_frac"),
        _ratio(F.col("dup_chars"), F.col("n_chars")).alias(
            "dup_line_char_frac"
        ),
    )


def url_stats(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """URL density per document → (doc_id, n_urls, url_char_frac,
    has_url) — the boilerplate/link-farm signal. Map-side regexp."""
    t = F.col(text_col)
    urls = F.regexp_extract_all(t, F.lit(r"https?://[^\s]+"), 0)
    url_chars = F.aggregate(
        F.transform(urls, lambda u: F.length(u).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return documents.filter(t.isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.size(urls).cast("long").alias("n_urls"),
        _ratio(url_chars, F.length(t).cast("long")).alias("url_char_frac"),
        (F.size(urls) > 0).alias("has_url"),
    )


def _count_rollup(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    *aggs: Column,
    with_total: bool = False,
) -> DataFrame:
    """(doc_id, n_tokens, *aggs): each lowercased token of a document
    joined back to its corpus count `c` (and, `with_total`, the
    broadcast corpus token total `__total`), rolled up per doc — the
    shape token_rarity and unigram_logprob share."""
    toks = _terms(documents, text_col, F.col(id_col).alias("doc_id"))
    counts = _term_counts(toks)
    scored = toks.join(counts, "term")
    if with_total:
        total = counts.agg(F.sum("c").alias("__total"))
        scored = scored.crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"), *aggs
    )


def token_rarity(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max_count: int = 2,
) -> DataFrame:
    """Per-document rarity vs the corpus unigram table → (doc_id,
    n_tokens, freq_sum, rare_tokens, rare_frac).

    freq_sum = Σ corpus-count(token) over the doc's (lowercased)
    tokens — an exact-integer stand-in for the unigram LM log-prob
    score (which a float log would make partition-order-dependent);
    rare_tokens counts tokens whose corpus count <= rare_max_count —
    the OOV/garbage signal quality classifiers train on.

    Scale shape (shared with unigram_logprob): the unigram table
    aggregates once (shuffle = distinct words); the per-doc join
    re-shuffles exploded tokens by word. At lake scale the count
    table's head is tiny and skewed — AQE's skew-join handles the 'the'
    partition; all sums are exact longs.
    """
    return (
        _count_rollup(
            documents,
            id_col,
            text_col,
            F.sum("c").cast("long").alias("freq_sum"),
            F.sum((F.col("c") <= rare_max_count).cast("long"))
            .cast("long")
            .alias("rare_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "freq_sum",
            "rare_tokens",
            _ratio(F.col("rare_tokens"), F.col("n_tokens")).alias("rare_frac"),
        )
    )


def vocab_stats(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary statistics, one row → (total_tokens,
    vocab_size, hapax_count, hapax_frac, type_token_ratio).

    Hapax fraction (~50% for natural language, Zipf) and type/token
    ratio are the standard sanity gauges that a synthetic or
    template-generated corpus fails. Exact integers; two cheap
    aggregations (word counts, then one global row).
    """
    return _term_counts(_terms(documents, text_col)).agg(
        F.sum("c").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("hapax_count"),
    ).select(
        "total_tokens",
        "vocab_size",
        "hapax_count",
        _ratio(F.col("hapax_count"), F.col("vocab_size")).alias("hapax_frac"),
        _ratio(F.col("vocab_size"), F.col("total_tokens")).alias(
            "type_token_ratio"
        ),
    )


def source_overlap(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-source n-gram containment matrix → (source_a, source_b,
    n_a, n_b, shared, containment_a, containment_b) for source_a <
    source_b.

    The data-mixing diagnostic: how much of source A's shingle set
    also appears in B (crawl snapshots of the same sites, mirrored
    dumps, re-scraped corpora). Containment (Broder) rather than
    Jaccard so a small source embedded in a large one still reads ~1.

    Scale shape: ONE exchange on the shingle fingerprint groups each
    shingle's distinct source set (collect_set is bounded by the
    number of sources — a handful — never by corpus size); source
    pairs then generate MAP-SIDE inside each row, so there is no
    fingerprint self-join and the corpus passes the shuffle exactly
    once. Sizes and pair-shared counts aggregate from the same grouped
    relation into source²-width rows. No document text shuffles.
    """
    from data_pipeline2_spark.functions.text import word_ngrams

    t = F.col(text_col)
    by_shingle = (
        documents.filter(t.isNotNull())
        .select(
            F.col(group_col).alias("src"),
            F.explode(word_ngrams(F.lower(t), shingle_n)).alias("shingle"),
        )
        .groupBy(shingle_hash64(F.col("shingle")).alias("sh64"))
        .agg(F.sort_array(F.collect_set("src")).alias("srcs"))
        .transform(materialize)  # sizes + pairs both consume it
    )
    sizes = by_shingle.select(F.explode("srcs").alias("src")).groupBy(
        "src"
    ).agg(F.count(F.lit(1)).alias("n"))
    from data_pipeline2_spark.functions.text import array_pairs

    pair_col = array_pairs(F.col("srcs"), "a", "b")
    shared = (
        by_shingle.select(F.explode(pair_col).alias("pr"))
        .groupBy(
            F.col("pr.a").alias("source_a"), F.col("pr.b").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("src", "source_a"), "source_a")
        .withColumnRenamed("n", "n_a")
        .join(sizes.withColumnRenamed("src", "source_b"), "source_b")
        .withColumnRenamed("n", "n_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("shared").cast("long").alias("shared"),
            _ratio(F.col("shared"), F.col("n_a")).alias("containment_a"),
            _ratio(F.col("shared"), F.col("n_b")).alias("containment_b"),
        )
    )


def curation_report(
    documents: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus curation dashboard → (source, n_docs,
    n_null_text, gopher_pass_rate, c4_pass_rate, mean_quality): every
    published filter suite plus the composite quality score, computed
    in ONE scan and ONE tiny aggregation (the fused-Project discipline
    of corpus_curation — adding a rule costs expression evaluation,
    never another pass over 100 TB).

    Rates are over non-NULL-text docs; mean_quality sums the per-doc
    rounded score as exact decimals so the report is partition-order
    independent.
    """
    from data_pipeline2_spark.operators.textanalysis import (
        quality_feature_cols,
    )

    t = F.col(text_col)
    g_pass = gopher_cols(t)["gopher_pass"]
    c_pass = c4_cols(t)["c4_pass"]
    quality = quality_feature_cols(t)["quality"]
    base = documents.select(
        F.col(group_col).alias("source"),
        t.isNull().cast("long").alias("is_null"),
        F.when(t.isNotNull() & g_pass, 1).otherwise(0).alias("g_ok"),
        F.when(t.isNotNull() & c_pass, 1).otherwise(0).alias("c_ok"),
        F.when(t.isNotNull(), quality).cast("decimal(18,6)").alias("q"),
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_null").alias("n_null_text"),
        F.sum("g_ok").alias("g_ok"),
        F.sum("c_ok").alias("c_ok"),
        F.sum("q").cast("double").alias("q_sum"),
        (F.count(F.lit(1)) - F.sum("is_null")).alias("n_text"),
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_null_text").cast("long").alias("n_null_text"),
        _ratio(F.col("g_ok"), F.col("n_text")).alias("gopher_pass_rate"),
        _ratio(F.col("c_ok"), F.col("n_text")).alias("c4_pass_rate"),
        F.round(F.col("q_sum") / F.greatest(F.col("n_text"), F.lit(1)), 6)
        .alias("mean_quality"),
    )


def strip_boilerplate_stats(
    documents: DataFrame,
    min_docs: int = 2,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document boilerplate-line removal report → (doc_id,
    n_lines, n_boiler, chars_total, chars_kept).

    A line (trimmed, non-blank) is boilerplate when its fingerprint
    appears in >= `min_docs` DISTINCT documents of the SAME source —
    the nav-bar / footer / cookie-banner signature (C4 strips exact
    repeated lines the same way; CCNet hashes paragraphs per snapshot).
    Documents whose every line is blank produce no row (mirrored in the
    oracle).

    Scale shape: lines explode map-side and aggregate ONCE on
    (source, 60-bit line fingerprint) carrying only longs; the
    boilerplate set per source is tiny (repeated lines) and joins back
    to the exploded lines on the same (source, fingerprint) key —
    every exchange carries ~16 B/line fingerprints regardless of line
    length (3 exchanges, budget-asserted). At 100 TB, compute the
    boilerplate table per crawl
    snapshot and broadcast it (it is the small side by construction).
    """
    t = F.col(text_col)
    lines = documents.filter(t.isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("__grp"),
        F.explode(
            F.transform(_nonblank_lines(t), lambda x: F.trim(x))
        ).alias("line"),
    )
    hashed = lines.select(
        "doc_id",
        "__grp",
        shingle_hash64(F.col("line")).alias("line_h"),
        F.length("line").cast("long").alias("line_len"),
    )
    boiler = (
        hashed.select("__grp", "line_h", "doc_id")
        .distinct()
        .groupBy("__grp", "line_h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__grp", "line_h", F.lit(True).alias("__boiler"))
    )
    flagged = hashed.join(boiler, ["__grp", "line_h"], "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("__boiler").isNotNull().cast("long"))
        .cast("long")
        .alias("n_boiler"),
        F.sum("line_len").cast("long").alias("chars_total"),
        F.sum(
            F.when(F.col("__boiler").isNull(), F.col("line_len")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("chars_kept"),
    )


# fixed-point scale for the unigram log-prob integerization: floor at
# 1e10 keeps ~10 significant decimals of ln(p) while staying far from
# BIGINT overflow (|ln p| < 30 → |term| < 3e11; x 1e6 tokens/doc OK)
_LOGPROB_SCALE = 10_000_000_000


def unigram_logprob(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document average unigram-LM log-probability → (doc_id,
    n_tokens, logprob_sum_scaled, avg_logprob).

    The real KenLM-style quality proxy (perplexity ∝ exp(-avg_logprob))
    that `token_rarity.freq_sum` stood in for: p(w) = corpus-count(w) /
    corpus-total, score = Σ ln p(w) / n_tokens. Float log-sums are
    partition-order-dependent, so each term integerizes FIRST:
    term(w) = floor(ln(p) * 1e10) as BIGINT — floor is toward -inf in
    both engines, ln of the same IEEE division bit-matches, and the
    BIGINT sum is associative, making the result partition-order-free
    and oracle-exact (the idiom zscore_outliers uses decimals for,
    in log space).

    Scale shape: token_rarity's.
    """
    term = F.floor(
        F.log(F.col("c").cast("double") / F.col("__total").cast("double"))
        * F.lit(float(_LOGPROB_SCALE))
    ).cast("long")
    return (
        _count_rollup(
            documents,
            id_col,
            text_col,
            F.sum(term).cast("long").alias("logprob_sum_scaled"),
            with_total=True,
        )
        .select(
            "doc_id",
            "n_tokens",
            "logprob_sum_scaled",
            F.round(
                F.col("logprob_sum_scaled")
                / F.lit(float(_LOGPROB_SCALE))
                / F.col("n_tokens"),
                6,
            ).alias("avg_logprob"),
        )
    )


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form: lowercase scheme://host (www. stripped),
    fragment dropped, tracking params (utm_*, ref) removed, separators
    cleaned. Pure regexp chain on the Java engine; NOTE the mid-string
    rule uses a lookbehind (?<=[?&]) — Java-only, RE2 cannot compile it
    — so the DuckDB oracle verifies via a closed-form expected URL, not
    by replaying this chain."""
    u = F.regexp_replace(url, "#.*$", "")  # fragment
    head = F.lower(F.regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]+)", 1))
    head = F.regexp_replace(head, "://www\\.", "://")
    rest = F.regexp_replace(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]+", "")
    # lookbehind keeps the separator AND prevents matching inside
    # unrelated parameter names (href=, pref= must survive)
    rest = F.regexp_replace(rest, "(?<=[?&])(utm_[a-z]+|ref)=[^&]*&", "")
    rest = F.regexp_replace(rest, "[?&](utm_[a-z]+|ref)=[^&]*$", "")
    rest = F.regexp_replace(rest, "\\?&", "?")
    rest = F.regexp_replace(rest, "[?&]$", "")
    return F.concat(head, rest)


def url_canonical_groups(
    urls: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Collapse a URL column by canonical form → (canon_url, n_urls,
    keep_id): the URL-level exact-dedup pass a crawl pipeline runs
    BEFORE fetching / content dedup — tracking-parameter and case
    variants of one page collapse to one group, keeper = min id.

    One hash exchange on the canonical string; at crawl scale swap the
    string key for its 60-bit fingerprint (shingle_hash64) so the
    shuffle carries longs."""
    return (
        urls.select(
            canonicalize_url(F.col(url_col)).alias("canon_url"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def ngram_novelty(
    documents: DataFrame,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty: what fraction of a doc's distinct
    word shingles appear for the FIRST time in the corpus at this doc
    (first occurrence = lowest doc_id, the arrival-order proxy).

    The memorization/contamination signal of Lee et al. 2022 turned
    into a curation metric: a novelty near 0 means the doc is stitched
    from already-seen n-grams (boilerplate, template spam, near-dup
    tails that survived dedup); sort ascending and you have the
    re-review queue. Shuffles carry 60-bit shingle fingerprints only
    (the minhash discipline): the first-occurrence doc resolves in ONE
    fingerprint-partitioned window min (the old groupBy + join-back
    shape executed the whole shingle pipeline twice — once per join
    side — and shuffled it twice; measured 77 s → this form at x100,
    BENCH_NOTES round 9b), then one per-doc rollup.

    → (doc_id, n_shingles, n_novel, novelty)
    """
    from pyspark.sql.window import Window

    fp = shingle_fingerprints(documents, shingle_n, id_col, text_col)
    first_doc = F.min("doc_id").over(Window.partitionBy("sh64"))
    return (
        fp.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
    )


def bigram_logprob(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document average bigram conditional log-probability →
    (doc_id, n_bigrams, logprob_sum_scaled, avg_logprob).

    The depth upgrade of `unigram_logprob`: score = Σ ln p(w2|w1) /
    n_bigrams with p(w2|w1) = corpus-count(w1 w2) / corpus-count(w1),
    unsmoothed (every observed bigram has a positive count by
    construction, so no zero branch exists). Same integerize-first
    idiom: term = floor(ln(p)·1e10) as BIGINT, making the log-sum
    associative and partition-order-free.

    Scale shape: bigram table keyed by (w1, w2) — Zipf-headed like the
    unigram table, AQE skew-join absorbs it; the per-doc bigram stream
    is `_ngrams` over `_positions`, one lag window clustered by doc_id
    (no extra shuffle beyond the doc hash). Docs with < 2 tokens drop
    out (no bigrams), exactly as in the oracle.

    r13 note: an in-row rewrite (transform over window-start indices,
    the doc_shingles idiom — both a struct-lambda and an
    arrays_zip(slice, slice) variant) was built, oracle-verified, and
    REJECTED on measurement: interleaved same-session A/B on the x10
    lake read window 2.46 s < zip 3.08 s < struct-lambda 3.58 s
    medians — for bigram volume the in-row array materialization costs
    more than a window over the already-clustered stream, the opposite
    of the 3-gram concat case. Keeping the measured-faster shape.
    """
    from data_pipeline2_spark.plans.partitioning import ensure_parallelism

    docs = ensure_parallelism(
        documents.filter(F.col(text_col).isNotNull()), id_col
    )
    toks = _positions(docs, text_col, id_col)
    bg = _ngrams(toks, 2).select("doc_id", "w1", "w2")
    uni = toks.groupBy(F.col("term").alias("w1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    term = F.floor(
        F.log(F.col("c2").cast("double") / F.col("c1").cast("double"))
        * F.lit(float(_LOGPROB_SCALE))
    ).cast("long")
    scored = bg.join(big, ["w1", "w2"]).join(uni, "w1")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(term).cast("long").alias("logprob_sum_scaled"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "logprob_sum_scaled",
            F.round(
                F.col("logprob_sum_scaled")
                / F.lit(float(_LOGPROB_SCALE))
                / F.col("n_bigrams"),
                6,
            ).alias("avg_logprob"),
        )
    )


def ngram_novelty_vs_store(
    new_docs: DataFrame,
    store_fp: DataFrame,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental form of `ngram_novelty`: score an ARRIVING batch
    against a persisted fingerprint store instead of the whole corpus —
    the shape a running ingest pipeline actually uses (the
    dedup_near_incremental discipline applied to novelty).

    `store_fp` holds one `sh64` column of 60-bit shingle fingerprints
    accumulated so far (16 bytes/row however large the history; old
    TEXT is never re-read). A shingle is novel iff absent from the
    store — batch-internal repeats are NOT discounted, so the batch
    variant over old+new and this operator agree only on the first
    occurrence per store epoch; union the batch's own fingerprints into
    the store afterwards to advance the epoch.

    → (doc_id, n_shingles, n_novel, novelty)
    """
    fp = shingle_fingerprints(new_docs, shingle_n, id_col, text_col)
    seen = store_fp.select("sh64").distinct().withColumn(
        "__seen", F.lit(1)
    )
    return (
        fp.join(seen, "sh64", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.col("__seen").isNull().cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
    )


def char_entropy(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_entropy: float = 1.5,
) -> DataFrame:
    """Per-document character-level Shannon entropy → (doc_id, n_chars,
    n_distinct, entropy, low_entropy).

    The gibberish / encoding-noise filter: natural prose sits around
    3.5–4.5 nats of character entropy, while repeated-character spam,
    base64 walls, and single-token floods collapse toward 0 — documents
    under `min_entropy` are flagged for the curation drop list (the
    character-level sibling of repetition_ratio's token-level signal).

    Exactness and scale both come from reusing the floor-integerized
    entropy aggregate (aggregates.distribution_entropy): each (doc,
    char) term integerizes before summation so the float total is
    associative and engine-portable, and the explode's corpus-of-chars
    blowup partial-aggregates map-side — the shuffles carry (doc,
    char)-cardinality rows (≤ alphabet size per doc), never raw text.
    """
    from data_pipeline2_spark.operators.aggregates import (
        distribution_entropy,
    )

    chars = documents.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    )
    ent = distribution_entropy(chars, "doc_id", "ch")
    return ent.select(
        "doc_id",
        F.col("n_events").alias("n_chars"),
        F.col("n_cats").alias("n_distinct"),
        "entropy",
        (F.col("entropy") < F.lit(float(min_entropy))).alias("low_entropy"),
    )


# ------------------------------------------------------------------ r9b:
# block-granular keep-first dedup, stupid-backoff LM scoring, CCNet-style
# perplexity bucketing, lexicon blocklist tagging


def block_dedup_keep_first(
    documents: DataFrame,
    width: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide exact dedup of fixed-width token blocks with
    KEEP-FIRST semantics → (doc_id, n_blocks, kept_blocks,
    dropped_blocks, tokens_removed, kept_checksum).

    The paragraph-dedup arm of the published curation recipes (Dolma's
    paragraph dedup; RefinedWeb §3.3's exact substring pass runs at
    span granularity — `exact_substring_spans` here — while this is
    the cheap block-granular form): each document is cut into
    non-overlapping `width`-token blocks (lowercased, whitespace
    tokens; the trailing partial block is not dedup-eligible and is
    excluded from the accounting), every block occurrence whose
    fingerprint has been seen EARLIER in corpus order is dropped, and
    the first occurrence — minimal (doc_id, block_idx) — survives.
    Unlike `dedup_exact`/`chunk_dedup` (set-distinct semantics) the
    contract here is positional: WHICH occurrence survives is part of
    the output, pinned by `kept_checksum` = Σ over kept blocks of
    (fingerprint mod 2^32)·(block_idx+1) — a position-weighted BIGINT
    sum that is associative (order-free) yet changes if a different
    occurrence had been kept. Documents with no full block emit no row.

    Occurrence order is encoded as pos = doc_id·10^6 + block_idx
    (valid while block_idx < 10^6 and doc_id < 9.2·10^12 — a 100 TB
    lake with larger ids swaps in a struct-min, same plan shape).

    Scale shape: blocks fingerprint map-side inside one projection
    (never shuffling block text), then ONE aggregation keyed on the
    60-bit fingerprint (min-pos per block — partial min map-side) and
    one fingerprint-keyed join back, followed by the per-doc rollup —
    3 hash exchanges total, each carrying ~24 B rows. Skewed (template)
    blocks concentrate on one fingerprint but min() partials absorb
    them map-side, the same argument as dedup_exact's sha groupBy.
    """
    t = F.col(text_col)
    w = int(width)
    docs = documents.filter(t.isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens(t), lambda x: F.lower(x)).alias("ws"),
    )
    n_full = F.floor(F.size("ws") / w).cast("int")
    blocks = (
        docs.filter(F.size("ws") >= w)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_full - 1)).alias("block_idx"),
            F.col("ws"),
        )
        .select(
            "doc_id",
            "block_idx",
            shingle_hash64(
                F.concat_ws(
                    " ", F.slice("ws", F.col("block_idx") * w + 1, w)
                )
            ).alias("blk_h"),
        )
    )
    pos = (F.col("doc_id") * F.lit(1_000_000) + F.col("block_idx")).cast(
        "long"
    )
    hashed = blocks.withColumn("__pos", pos)
    first = hashed.groupBy("blk_h").agg(F.min("__pos").alias("__keep_pos"))
    flagged = hashed.join(first, "blk_h").withColumn(
        "__kept", F.col("__pos") == F.col("__keep_pos")
    )
    kept_term = F.when(
        F.col("__kept"),
        F.pmod(F.col("blk_h"), F.lit(4_294_967_296))
        * (F.col("block_idx") + 1),
    ).otherwise(F.lit(0))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(F.col("__kept").cast("long"))
            .cast("long")
            .alias("kept_blocks"),
            F.sum(kept_term).cast("long").alias("kept_checksum"),
        )
        .select(
            "doc_id",
            "n_blocks",
            "kept_blocks",
            (F.col("n_blocks") - F.col("kept_blocks"))
            .cast("long")
            .alias("dropped_blocks"),
            ((F.col("n_blocks") - F.col("kept_blocks")) * w)
            .cast("long")
            .alias("tokens_removed"),
            "kept_checksum",
        )
    )


# stupid-backoff discount (Brants et al. 2007 §3's recommended 0.4),
# embedded as ONE Python-computed double literal on both engines so no
# engine-side ln(0.4) enters the parity surface
_SB_LOG_ALPHA = -0.916290731874155  # math.log(0.4)


def stupid_backoff_logprob(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Held-out trigram LM scoring with Stupid Backoff (Brants et al.
    2007, "Large Language Models in Machine Translation" — THE
    published distributed-LM scoring scheme, designed for exactly this
    kind of MapReduce-era counts-table layout) → (doc_id, n_trigrams,
    hits3, hits2, hits1, logprob_sum_scaled, avg_logprob).

    Counts fit on the EVEN doc_ids; the ODD half is scored — unlike
    `unigram_logprob`/`bigram_logprob` (corpus self-scoring, every
    n-gram seen) the backoff branches genuinely fire here (~60% of
    held-out trigrams at sf0.01). Per position i≥2 over the held-out
    token stream, with C(·) the training counts:

      S(w3|w1w2) = C(w1w2w3)/C(w1w2)            if C(w1w2w3) > 0
                 = α · C(w2w3)/C(w2)            elif C(w2w3) > 0
                 = α² · (C(w3)+1)/(N+V)         otherwise

    α = 0.4 (Brants §3). The base case add-one-smooths the unigram so
    out-of-vocabulary w3 stays finite (Brants leaves OOV undefined —
    the deviation is this one term). ln terms integerize FIRST
    (floor(ln·1e10) as BIGINT, the unigram_logprob idiom) so sums are
    associative and partition-order-free; ln(α) enters as the one
    shared Python double literal, never engine-evaluated.

    Scale shape: the three counts tables aggregate once each off a
    single exploded training stream (n-gram-keyed, Zipf heads absorbed
    by map-side partials + AQE skew-join); the held-out stream derives
    (w1,w2,w3) from two lag windows clustered by doc hash, then chains
    four LEFT joins against the counts (each key-partitioned, nothing
    corpus-cross). At 100 TB the counts tables persist once and every
    scoring batch reuses them — the Brants architecture verbatim.
    """
    from data_pipeline2_spark.plans.partitioning import ensure_parallelism

    train_docs, held_docs = _train_held(documents, text_col, id_col)
    train = _positions(train_docs, text_col, id_col)

    # the counts tables are consumed by multiple joins below (uni twice,
    # bi twice) and by the N/V aggregate — checkpoint each so the train
    # stream aggregates exactly once per order, the in-session form of
    # "counts tables persist once, every scoring batch reuses them"
    uni = (
        train.groupBy(F.col("term").alias("u_w"))
        .agg(F.count(F.lit(1)).alias("c_u"))
        .transform(materialize)
    )
    bi = (
        _ngrams(train, 2)
        .groupBy(F.col("w1").alias("b_w1"), F.col("w2").alias("b_w2"))
        .agg(F.count(F.lit(1)).alias("c_b"))
        .transform(materialize)
    )
    tri = _ngrams(train, 3).groupBy(
        F.col("w1").alias("t_w1"),
        F.col("w2").alias("t_w2"),
        F.col("w3").alias("t_w3"),
    ).agg(F.count(F.lit(1)).alias("c_t"))
    # N = Σ counts, V = |vocab| — off the already-aggregated unigram
    # table, never a count_distinct expand over the raw stream
    nv = uni.agg(
        F.sum("c_u").cast("long").alias("__n"),
        F.count(F.lit(1)).cast("long").alias("__v"),
    )

    held = _positions(
        ensure_parallelism(held_docs, id_col), text_col, id_col
    )
    stream = _ngrams(held, 3)
    scored = (
        stream.join(
            tri,
            (F.col("w1") == F.col("t_w1"))
            & (F.col("w2") == F.col("t_w2"))
            & (F.col("w3") == F.col("t_w3")),
            "left",
        )
        .join(
            bi.withColumnRenamed("c_b", "c_23"),
            (F.col("w2") == F.col("b_w1")) & (F.col("w3") == F.col("b_w2")),
            "left",
        )
        .join(
            bi.select(
                F.col("b_w1").alias("x_w1"),
                F.col("b_w2").alias("x_w2"),
                F.col("c_b").alias("c_12"),
            ),
            (F.col("w1") == F.col("x_w1")) & (F.col("w2") == F.col("x_w2")),
            "left",
        )
        .join(
            uni.select(F.col("u_w").alias("u2"), F.col("c_u").alias("c_2")),
            F.col("w2") == F.col("u2"),
            "left",
        )
        .join(
            uni.select(F.col("u_w").alias("u3"), F.col("c_u").alias("c_3")),
            F.col("w3") == F.col("u3"),
            "left",
        )
        .crossJoin(F.broadcast(nv))
    )
    log_a = F.lit(_SB_LOG_ALPHA)
    term_f = (
        F.when(
            F.col("c_t").isNotNull(),
            F.log(F.col("c_t").cast("double") / F.col("c_12").cast("double")),
        )
        .when(
            F.col("c_23").isNotNull(),
            log_a
            + F.log(
                F.col("c_23").cast("double") / F.col("c_2").cast("double")
            ),
        )
        .otherwise(
            log_a
            + log_a
            + F.log(
                (F.coalesce(F.col("c_3"), F.lit(0)) + 1).cast("double")
                / (F.col("__n") + F.col("__v")).cast("double")
            )
        )
    )
    term = F.floor(term_f * F.lit(float(_LOGPROB_SCALE))).cast("long")
    level = F.when(F.col("c_t").isNotNull(), 3).when(
        F.col("c_23").isNotNull(), 2
    ).otherwise(1)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.sum((level == 3).cast("long")).cast("long").alias("hits3"),
            F.sum((level == 2).cast("long")).cast("long").alias("hits2"),
            F.sum((level == 1).cast("long")).cast("long").alias("hits1"),
            F.sum(term).cast("long").alias("logprob_sum_scaled"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "hits3",
            "hits2",
            "hits1",
            "logprob_sum_scaled",
            F.round(
                F.col("logprob_sum_scaled")
                / F.lit(float(_LOGPROB_SCALE))
                / F.col("n_trigrams"),
                6,
            ).alias("avg_logprob"),
        )
    )


def perplexity_buckets(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.
    2020 §4.3: rank documents by LM perplexity, split the corpus into
    equal thirds, keep "head" as the cleanest slice) → (doc_id,
    n_tokens, score_scaled, ppl_bucket).

    The score is the corpus-unigram avg log-probability integerized at
    1e6 resolution — score_scaled = floor((Σterm / n_tokens) / 1e4)
    where term is `unigram_logprob`'s floor(ln p ·1e10) BIGINT — so
    bucket boundaries compare INTEGERS, never floats. Buckets assign
    per score VALUE (all docs tied on a score land in one bucket):
    with cum(s) = #docs scoring ≥ s, a value s is head when
    3·cum(s) ≤ total, middle when 3·cum(s) ≤ 2·total, else tail —
    exact integer thirds, deterministic under ties, no per-row rank.
    Higher avg logprob = lower perplexity = head, per CCNet.

    Scale shape: the per-doc scores reuse unigram_logprob's two
    exchanges; bucketing adds ONE aggregation to the distinct-score
    table and a window + join over THAT table only — the cumulative
    sort runs over distinct integer scores, orders of magnitude
    smaller than the corpus (a 100 TB run that saturates the 1e6-grid
    score space still sorts ≤ a few million rows on one task; the
    approx-quantile shortcut exists as `approx_quantiles` when even
    that is unwanted). Docs never globally sort.
    """
    from pyspark.sql.window import Window

    u = unigram_logprob(documents, id_col=id_col, text_col=text_col)
    # per-doc integer scores feed BOTH the bucket-map derivation and the
    # final labeling join; checkpoint so the unigram subtree (token
    # explode + counts join) executes once, not twice (the ~20 B/doc
    # score rows are the cheapest possible reuse point)
    scored = u.select(
        "doc_id",
        "n_tokens",
        F.floor(
            (
                F.col("logprob_sum_scaled").cast("double")
                / F.col("n_tokens").cast("double")
            )
            / F.lit(10_000.0)
        )
        .cast("long")
        .alias("score_scaled"),
    ).transform(materialize)
    counts = scored.groupBy("score_scaled").agg(
        F.count(F.lit(1)).alias("__c")
    )
    cw = (
        Window.orderBy(F.desc("score_scaled"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = counts.agg(F.sum("__c").alias("__total"))
    buckets = (
        counts.withColumn("__cum", F.sum("__c").over(cw))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("score_scaled").alias("__s"),
            F.when(3 * F.col("__cum") <= F.col("__total"), "head")
            .when(3 * F.col("__cum") <= 2 * F.col("__total"), "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )
    return scored.join(
        F.broadcast(buckets), scored.score_scaled == F.col("__s")
    ).select("doc_id", "n_tokens", "score_scaled", "ppl_bucket")


def blocklist_stats(
    documents: DataFrame,
    lexicon: tuple = ("slow", "big", "merge"),
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lexicon-hit tagging and filtering (the C4 §2.2 "bad words list"
    / RefinedWeb URL-and-wordlist gate, re-expressed over tokens) →
    (doc_id, n_tokens, n_blocked, blocked_frac, blocked).

    A token hits when its lowercase form is in `lexicon`; a document is
    `blocked` when the hit fraction (rounded at 6, the comparison
    input on both engines) strictly exceeds `threshold`. The demo
    lexicon is three corpus-frequent benign words so both verdicts
    populate at every SF; production swaps in the real wordlist.

    Scale shape: for a literal-sized lexicon the membership test is a
    pure Catalyst array filter — MAP-ONLY, zero exchanges, zero UDFs
    (the plan is a single projection over the scan). A lexicon too
    large for a literal becomes a broadcast-hash semi-join against the
    exploded token stream — still no corpus shuffle; both forms keep
    document text out of every exchange.
    """
    t = F.col(text_col)
    ws = F.transform(tokens(t), lambda x: F.lower(x))
    hits = F.size(
        F.filter(ws, lambda x: x.isin(*[str(w) for w in lexicon]))
    ).cast("long")
    n = F.size(ws).cast("long")
    frac = F.round(hits / F.greatest(n, F.lit(1)), 6)
    return documents.filter(t.isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_tokens"),
        hits.alias("n_blocked"),
        frac.alias("blocked_frac"),
        (frac > F.lit(float(threshold))).alias("blocked"),
    )


def strip_repeated_lines(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-document repeated-line removal → (doc_id, n_lines,
    kept_lines, removed_lines, chars_removed, kept_checksum): the APPLY
    step for `dup_line_stats`' Gopher repetition signal — every
    occurrence of a line after its first WITHIN the document drops
    (navigation blocks, repeated headers, chat-log echoes), keep-first
    positional semantics pinned by the position-weighted checksum
    exactly as `block_dedup_keep_first` pins its corpus-wide cousin.

    Lines are trimmed (ASCII space, the engine contract) and blank
    lines are not dedup-eligible (they drop from the accounting, as in
    dup_line_stats). NULL-text documents emit no row; blank documents
    emit an all-zero row. kept_checksum = Σ over kept lines of
    (md5_60(line) mod 2^32)·(kept_position+1) — associative, yet it
    changes if a different occurrence had survived or order shifted.

    Scale shape: the entire operator is ONE Catalyst projection — the
    dedup runs inside the row over the line array (array_position
    keep-first), so the plan has ZERO exchanges at any corpus size;
    at 100 TB it is a pure map over the scan, the cheapest shape an
    apply step can have. Per-row cost is O(lines² per doc) string
    compares, bounded by document size, never corpus size.
    """
    from data_pipeline2_spark.operators.dedup import shingle_hash64

    t = F.col(text_col)
    lines = F.transform(_nonblank_lines(t), lambda x: F.trim(x))
    docs = documents.filter(t.isNotNull()).select(
        F.col(id_col).alias("doc_id"), lines.alias("__lines")
    )
    ls = F.col("__lines")
    kept = F.filter(
        ls, lambda x, i: F.array_position(ls, x) == i + F.lit(1)
    )
    total_chars = F.aggregate(
        ls,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x),
    )
    kept_chars = F.aggregate(
        kept,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x),
    )
    checksum_terms = F.transform(
        kept,
        lambda x, i: (
            F.pmod(shingle_hash64(x), F.lit(4_294_967_296))
            * (i + F.lit(1)).cast("long")
        ),
    )
    checksum = F.aggregate(
        checksum_terms, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return docs.select(
        "doc_id",
        F.size(ls).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("kept_lines"),
        (F.size(ls) - F.size(kept)).cast("long").alias("removed_lines"),
        (total_chars - kept_chars).cast("long").alias("chars_removed"),
        checksum.alias("kept_checksum"),
    )


# Kneser-Ney absolute discount (Chen & Goodman 1998's recommended fixed
# D; exact in binary, so both engines subtract the identical double)
_KN_DISCOUNT = 0.75


def kneser_ney_logprob(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Held-out bigram scoring with interpolated Kneser-Ney smoothing
    (Kneser & Ney 1995; Chen & Goodman 1998 §2.7 — the accuracy
    benchmark the Stupid Backoff paper positions itself against) →
    (doc_id, n_bigrams, hits_bigram, hits_context, misses,
    logprob_sum_scaled, avg_logprob).

    Counts fit on EVEN doc_ids, ODD half scored (the shared
    `_train_held` split); both sides' bigram streams are `_ngrams`. With C(·) train bigram counts,
    D = 0.75, N1+(w1·) the distinct-continuation count, N1+(·w2) the
    distinct-history count, T total bigram types, V train vocabulary:

      p_cont(w2)  = (N1+(·w2) + 1) / (T + V + 1)      [add-one so OOV
                                                       stays finite]
      p(w2|w1)    = (max(C(w1w2) − D, 0)
                     + D · N1+(w1·) · p_cont(w2)) / C(w1·)
                  = p_cont(w2)                        when C(w1·) = 0

    — the continuation-probability insight (how many HISTORIES a word
    follows, not how often it occurs) is what distinguishes KN from
    every count-ratio backoff in the engine. All probability inputs are
    exact integers plus the binary-exact D, the arithmetic order is
    pinned identically in both engines, and each ln term integerizes at
    1e10 before summing (associative, partition-order-free).

    Scale shape: the train split pays TWO corpus-sized aggregations —
    the bigram counts table (checkpointed; context/continuation/type
    tables all derive from it, bigram-type-bounded) and the vocabulary
    count V for the smoothing floor. At 100 TB, V comes for free from
    the unigram table the lake already maintains (unigram_logprob /
    vocab_stats persist it), collapsing the fit to one pass. The
    held-out bigram stream chains three key-partitioned LEFT joins —
    the Brants counts-table architecture with KN arithmetic on top.
    """
    from data_pipeline2_spark.plans.partitioning import ensure_parallelism

    train_docs, held_docs = _train_held(documents, text_col, id_col)
    train = _positions(train_docs, text_col, id_col)
    bi = (
        _ngrams(train, 2)
        .groupBy(F.col("w1").alias("b_w1"), F.col("w2").alias("b_w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
        .transform(materialize)
    )
    ctx = bi.groupBy(F.col("b_w1").alias("x_w1")).agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("nfw")
    )
    nbw = bi.groupBy(F.col("b_w2").alias("n_w2")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    tv = (
        bi.agg(F.count(F.lit(1)).cast("long").alias("__t"))
        .crossJoin(
            F.broadcast(
                train.select("term")
                .distinct()
                .agg(F.count(F.lit(1)).cast("long").alias("__v"))
            )
        )
    )
    stream = _ngrams(
        _positions(ensure_parallelism(held_docs, id_col), text_col, id_col),
        2,
    )
    scored = (
        stream.join(
            bi,
            (F.col("w1") == F.col("b_w1")) & (F.col("w2") == F.col("b_w2")),
            "left",
        )
        .join(ctx, F.col("w1") == F.col("x_w1"), "left")
        .join(nbw, F.col("w2") == F.col("n_w2"), "left")
        .crossJoin(F.broadcast(tv))
    )
    d = F.lit(_KN_DISCOUNT)
    pc = (F.coalesce(F.col("nb"), F.lit(0)) + 1).cast("double") / (
        F.col("__t") + F.col("__v") + 1
    ).cast("double")
    p_seen = (
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - d,
            F.lit(0.0),
        )
        + d * F.col("nfw").cast("double") * pc
    ) / F.col("c1").cast("double")
    term_f = F.log(F.when(F.col("c1").isNotNull(), p_seen).otherwise(pc))
    term = F.floor(term_f * F.lit(float(_LOGPROB_SCALE))).cast("long")
    level = (
        F.when(F.col("c12").isNotNull(), 2)
        .when(F.col("c1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum((level == 2).cast("long")).cast("long").alias(
                "hits_bigram"
            ),
            F.sum((level == 1).cast("long")).cast("long").alias(
                "hits_context"
            ),
            F.sum((level == 0).cast("long")).cast("long").alias("misses"),
            F.sum(term).cast("long").alias("logprob_sum_scaled"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "hits_bigram",
            "hits_context",
            "misses",
            "logprob_sum_scaled",
            F.round(
                F.col("logprob_sum_scaled")
                / F.lit(float(_LOGPROB_SCALE))
                / F.col("n_bigrams"),
                6,
            ).alias("avg_logprob"),
        )
    )
