"""Corpus curation — the standard pretraining filter chain as ONE plan.

Composes the per-document text operators (quality features, language
ID, PII redaction, token budget) as column expressions over a single
scan, plus exact dedup as the only shuffle. This is the shape that
matters at 100 TB: a naive composition joins quality_score(docs),
lang_id(docs) and pii_redact(docs) on doc_id — three extra scans and
three extra shuffles for work that is per-row arithmetic. Here Catalyst
sees one Project over one scan, keeps everything in whole-stage
codegen, and pushes the quality/language/budget gates into the same
stage; the exact-dedup keeper set (hash-groupBy on a 64-hex key +
semi-join) is the only data movement.

Reference parity: the reference has no curation pass (its pipeline is
ingest→chunk→embed, document_processor.py:96-132); this is the
north-star LLM-data-pipeline surface mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline2_spark.operators import dedup
from data_pipeline2_spark.operators.textanalysis import (
    _term_counts,
    _terms,
    lang_pred_cols,
    pii_redact_col,
    quality_feature_cols,
)


def curate_corpus(
    documents: DataFrame,
    min_quality: float = 0.7,
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 5,
    max_tokens: int = 5000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Curated corpus → (doc_id, lang_pred, quality, n_tokens,
    text_redacted): exact-dedup keepers that pass the quality score,
    language allowlist and token budget, with PII redacted.

    Gates evaluate on the ORIGINAL text (redaction placeholders would
    perturb token counts and ratios); redaction applies to survivors
    only in the emitted column — Catalyst's lazy projection means the
    redaction regexes never run for filtered-out rows.
    """
    t = F.col(text_col)
    feats = quality_feature_cols(t)
    pred, _best = lang_pred_cols(t)
    kept = dedup.dedup_exact_drop(documents, id_col, text_col)
    return (
        kept.select(
            F.col(id_col).alias("doc_id"),
            pred.alias("lang_pred"),
            feats["quality"].alias("quality"),
            feats["n_tokens"].alias("n_tokens"),
            pii_redact_col(t).alias("text_redacted"),
        )
        .filter(
            (F.col("quality") >= min_quality)
            & F.col("lang_pred").isin(*langs)
            & F.col("n_tokens").between(min_tokens, max_tokens)
        )
    )


def decontaminate_semantic(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "vec_id",
    eval_vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination →
    (vec_id, max_sim, nearest_eval_id, contaminated).

    Complements the 5-gram lexical pass (decontaminate): paraphrased or
    reformatted eval leakage that shares no exact n-grams still sits
    next to the eval point in embedding space. Every corpus vector is
    scored against the broadcast eval set (eval sets are thousands of
    rows — driver-scale); max-sim + argmax come from one max_by over
    the crossJoin, so the corpus never shuffles and the output is one
    row per corpus doc. Ties break toward the smaller eval id for
    engine-portable determinism.
    """
    from data_pipeline2_spark.functions.vectors import cosine, with_norm

    ev = eval_emb.select(
        F.col(eval_id_col).alias("__eid"), F.col(eval_vec_col).alias("__evec")
    )
    vecs = corpus_emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")
    )
    scored = with_norm(vecs, "__v", "__vn").crossJoin(
        F.broadcast(with_norm(ev, "__evec", "__en"))
    ).select(
        "vec_id",
        "__eid",
        cosine("__v", "__vn", "__evec", "__en", 6).alias("__sim"),
    )
    agg = scored.groupBy("vec_id").agg(
        F.max("__sim").alias("max_sim"),
        F.min_by("__eid", F.struct(-F.col("__sim"), F.col("__eid"))).alias(
            "nearest_eval_id"
        ),
    )
    return agg.select(
        "vec_id",
        "max_sim",
        "nearest_eval_id",
        (F.col("max_sim") >= F.lit(threshold)).alias("contaminated"),
    )


def corpus_datasheet(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Corpus datasheet → ONE row (Gebru et al. 2018, "Datasheets for
    Datasets" — the release artifact that travels with a training
    corpus): structural census (docs / NULL / blank / tokens, mean and
    exact interpolated p50/p90 document lengths), vocabulary census
    (size, hapax fraction), exact-duplicate fraction (normalized-sha
    groups, the dedup_exact contract), and language-mix Shannon entropy
    in nats over the lang column (floor-integerized log terms — the
    engine's associative-log discipline — summed exactly, ONE closing
    division).

    Columns: n_docs, n_null_text, n_blank, n_tokens, mean_tokens,
    p50_tokens, p90_tokens, vocab_size, hapax_frac, dup_doc_frac,
    n_langs, lang_entropy.

    Scale shape: four independent aggregations over one logical scan —
    doc-level stats (map-side projection + percentile agg), vocabulary
    (token explode + word agg), duplicate groups (sha agg), language
    mix (lang agg, integerized entropy terms over the
    language-cardinality table) — each with map-side partials, all
    reduced to single rows and crossJoined. Nothing corpus-sized
    survives any aggregation.
    """
    from data_pipeline2_spark.functions.text import content_hash, tokens
    from data_pipeline2_spark.operators.quality import _LOGPROB_SCALE

    t = F.col(text_col)
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        t.alias("__text"),
        F.when(t.isNull(), None)
        .otherwise(F.size(tokens(t)).cast("long"))
        .alias("__ntok"),
    )
    doc_stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.col("__text").isNull().cast("long")), F.lit(0))
        .cast("long")
        .alias("n_null_text"),
        F.coalesce(
            F.sum(
                (F.col("__text").isNotNull() & (F.col("__ntok") == 0)).cast(
                    "long"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_blank"),
        F.coalesce(F.sum("__ntok"), F.lit(0)).cast("long").alias("n_tokens"),
        F.round(F.avg("__ntok"), 6).alias("mean_tokens"),
        F.round(F.percentile(F.col("__ntok"), F.lit(0.5)), 6).alias(
            "p50_tokens"
        ),
        F.round(F.percentile(F.col("__ntok"), F.lit(0.9)), 6).alias(
            "p90_tokens"
        ),
    )
    vocab = (
        _term_counts(_terms(documents, text_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.round(
                F.coalesce(F.sum((F.col("c") == 1).cast("long")), F.lit(0))
                / F.greatest(F.count(F.lit(1)), F.lit(1)),
                6,
            ).alias("hapax_frac"),
        )
    )
    dups = (
        documents.filter(t.isNotNull())
        .groupBy(content_hash(t).alias("__sha"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("n") > 1, F.col("n"))), F.lit(0)
                )
                / F.greatest(F.coalesce(F.sum("n"), F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_doc_frac")
        )
    )
    lang_counts = documents.groupBy(
        F.col(lang_col).alias("__lang")
    ).agg(F.count(F.lit(1)).alias("lc"))
    lang_total = F.sum("lc")
    term = (
        F.floor(
            F.log(F.col("lc").cast("double") / F.col("__tot").cast("double"))
            * F.lit(float(_LOGPROB_SCALE))
        ).cast("long")
        * F.col("lc")
    )
    langs = (
        lang_counts.crossJoin(
            F.broadcast(lang_counts.agg(lang_total.alias("__tot")))
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.round(
                -F.sum(term)
                / F.lit(float(_LOGPROB_SCALE))
                / F.first(F.col("__tot")),
                6,
            ).alias("lang_entropy"),
        )
    )
    return (
        doc_stats.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(langs))
    )
