"""Chunking operators — the reference's core transform family.

Reference strategies (doc_pipeline/services/docling_service.py):
- fixed slices (document_processor.py:134-144: 100-char slices,
  ids `f"{doc_id}-{i}"`),
- sentence packing (docling_service.py:99-171: regex split, greedy pack
  into <= chunk_size, oversized sentences split word-by-word),
- markdown heading sections (docling_service.py:57-97),
- hybrid tokenizer chunking (docling_service.py:212-236),
- whole-doc fallback when a strategy yields nothing
  (docling_service.py:273-292),
- per-chunk metadata chunk_number/total_chunks/strategy
  (docling_service.py:222-236),
- config validation (docling_service.py:42-51).

Spark-first realization: chunking is an `explode` pipeline — generate
chunk indices per document, explode, slice with `substring` — all
JVM-side expressions, embarrassingly parallel, no shuffle except the
window for metadata enrichment (partitioned by doc_id, which is also
the natural data layout at 100 TB: chunks co-partitioned with their
documents).

Greedy packing is inherently sequential per document; the oracled
default (`chunk_sentence`) uses a running-sum bucket approximation
(identical semantics expressible in ANSI SQL); the exact scan ships as
`chunk_sentence_exact` via applyInPandas (rows-only check). The size
bound invariant (content <= chunk_size + max_unit_len) holds for both.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline2_spark.functions.text import (
    ASCII_WS,
    ascii_split,
    sentence_end,
    sentences,
    split_sentences,
    tokens,
)
from data_pipeline2_spark.plans.partitioning import (
    adaptive_key_join,
    ensure_parallelism,
    null_key_rows,
)

DEFAULT_CHUNK_SIZE = 500  # docling_service.py:27
DEFAULT_CHUNK_OVERLAP = 50  # docling_service.py:28
FIXED_SLICE = 100  # document_processor.py:136


def validate_chunk_config(chunk_size: int, chunk_overlap: int = 0, strategy: str = "fixed"):
    """Reference config validation (docling_service.py:42-51)."""
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    if chunk_overlap < 0:
        raise ValueError(f"chunk_overlap must be non-negative, got {chunk_overlap}")
    if chunk_overlap >= chunk_size:
        raise ValueError(
            f"chunk_overlap ({chunk_overlap}) must be < chunk_size ({chunk_size})"
        )
    if strategy not in {"fixed", "sentence", "markdown", "hybrid"}:
        raise ValueError(f"unknown chunking strategy: {strategy}")


def chunk_fixed(
    documents: DataFrame,
    chunk_size: int = FIXED_SLICE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-width character slices; empty docs yield one empty chunk
    (the whole-doc fallback, docling_service.py:277-292).

    → (doc_id, pos, chunk_id, content)
    """
    validate_chunk_config(chunk_size)
    documents = ensure_parallelism(documents, id_col)
    n = F.greatest(F.ceil(F.length(F.col(text_col)) / F.lit(chunk_size)), F.lit(1))
    return (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.sequence(F.lit(0), (n - 1).cast("int"))).alias("pos", "_i"),
            F.col(text_col),
        )
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.concat_ws("-", F.col("doc_id"), F.col("pos")).alias("chunk_id"),
            F.substring(
                F.col(text_col), F.col("pos") * chunk_size + 1, chunk_size
            ).alias("content"),
        )
    )


def chunk_overlap_slices(
    documents: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_CHUNK_OVERLAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding character windows with overlap (stride = size - overlap).

    Reference: chunk_overlap config consumed by the HybridChunker
    (docling_service.py:216-217); realized here as deterministic
    character windows.
    """
    validate_chunk_config(chunk_size, overlap)
    documents = ensure_parallelism(documents, id_col)
    stride = chunk_size - overlap
    n = F.greatest(
        F.ceil((F.length(F.col(text_col)) - F.lit(overlap)) / F.lit(stride)),
        F.lit(1),
    )
    return (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.sequence(F.lit(0), (n - 1).cast("int"))).alias("pos", "_i"),
            F.col(text_col),
        )
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.concat_ws("-", F.col("doc_id"), F.col("pos")).alias("chunk_id"),
            F.substring(
                F.col(text_col), F.col("pos") * stride + 1, chunk_size
            ).alias("content"),
        )
    )


def chunk_sentence(
    documents: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-pack chunking, running-sum bucket variant (oracled).

    Units are regex sentences (docling_service.py:103); a document with
    no sentence terminators degrades to word units — the word-split path
    the reference applies to oversized sentences (docling_service.py:124-147).
    Packing: cumulative joined-length running sum, bucket =
    floor((cum-1)/chunk_size); units in one bucket join with ' '.

    → (doc_id, pos, chunk_id, content, n_units)
    """
    validate_chunk_config(chunk_size)
    documents = ensure_parallelism(documents, id_col)
    sent = sentences(F.col(text_col))
    units = F.when(F.size(sent) > 0, F.transform(sent, F.trim)).otherwise(
        tokens(F.col(text_col))
    )
    exploded = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(units).alias("upos", "unit"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("upos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.length("unit") + 1).over(w)
    bucketed = exploded.withColumn(
        "pos", F.floor((cum - 1) / F.lit(chunk_size)).cast("int")
    )
    return (
        bucketed.groupBy("doc_id", "pos")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("upos", "unit"))),
                    lambda s: s["unit"],
                ),
                " ",
            ).alias("content"),
            F.count(F.lit(1)).cast("int").alias("n_units"),
        )
        .select(
            "doc_id",
            "pos",
            F.concat_ws("-", F.col("doc_id"), F.col("pos")).alias("chunk_id"),
            "content",
            "n_units",
        )
    )


def chunk_markdown(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Markdown heading-section chunking.

    Reference (docling_service.py:57-97): split on '#'-prefixed heading
    lines, carry the current heading as chunk metadata. Section id =
    running count of heading lines (gaps-and-islands); content preserves
    line order; text before the first heading is section 0 with NULL
    heading.

    → (doc_id, pos, chunk_id, heading, content)
    """
    documents = ensure_parallelism(documents, id_col)
    lines = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("lpos", "line"),
    )
    is_heading = F.col("line").startswith("#")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("lpos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sectioned = lines.withColumn(
        "pos", F.sum(is_heading.cast("int")).over(w).cast("int")
    )
    return (
        sectioned.groupBy("doc_id", "pos")
        .agg(
            F.max(F.when(is_heading, F.col("line"))).alias("heading"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("lpos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("content"),
        )
        .filter(F.length(F.trim(F.col("content"))) > 0)
        .select(
            "doc_id",
            "pos",
            F.concat_ws("-", F.col("doc_id"), F.col("pos")).alias("chunk_id"),
            "heading",
            "content",
        )
    )


def chunk_fallback(documents: DataFrame, chunks: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whole-document single chunk for documents a strategy left chunkless.

    Reference (docling_service.py:273-292): on failure/empty result, one
    chunk = entire content, flagged is_fallback. Spark: anti-join the
    corpus against produced chunks, union the leftovers back.
    """
    chunked_ids = chunks.select(F.col("doc_id")).distinct()
    # id-only anti join first, then an adaptively-broadcast semi fetch:
    # the chunkless leftovers are strategy FAILURES — small by
    # construction — so document text never enters an exchange (r11
    # content-shuffle rule; a direct text-bearing anti join sort-merges
    # once the id set outgrows the broadcast threshold). The size guard
    # (r12) degrades a pathological everything-failed set to a shuffle
    # join; null-id documents can never match the produced chunks, so
    # they route straight into the fallback set (the pre-r11 anti-join
    # behavior the broadcast rewrite silently dropped).
    missing_ids = documents.select(F.col(id_col)).join(
        chunked_ids, documents[id_col] == chunked_ids["doc_id"], "left_anti"
    )
    missing = adaptive_key_join(documents, missing_ids, id_col).unionByName(
        null_key_rows(documents, id_col)
    )
    fallback = missing.select(
        F.col(id_col).alias("doc_id"),
        F.lit(0).alias("pos"),
        F.concat_ws("-", F.col(id_col), F.lit(0)).alias("chunk_id"),
        F.col(text_col).alias("content"),
        F.lit(True).alias("is_fallback"),
    )
    return (
        chunks.select("doc_id", "pos", "chunk_id", "content")
        .withColumn("is_fallback", F.lit(False))
        .unionByName(fallback)
    )


def chunk_metadata_enrich(chunks: DataFrame, strategy: str) -> DataFrame:
    """Per-chunk metadata: 1-based chunk_number, total_chunks, strategy.

    Reference (docling_service.py:222-236, 241-254, 259-271). Windows
    partition by doc_id — co-partitioned with the chunk layout, so at
    scale this is a local sort, not an extra shuffle.
    """
    w_order = Window.partitionBy("doc_id").orderBy("pos")
    w_all = Window.partitionBy("doc_id")
    return chunks.withColumn(
        "chunk_number", F.row_number().over(w_order).cast("int")
    ).withColumn(
        "total_chunks", F.count(F.lit(1)).over(w_all).cast("int")
    ).withColumn("strategy", F.lit(strategy))


# ---- exact greedy packing (applyInPandas; rows-only oracle) ----

_EXACT_SCHEMA = (
    "doc_id long, pos int, chunk_id string, content string, n_units int"
)


def _greedy_pack(units: Iterable[str], chunk_size: int) -> list[tuple[int, str, int]]:
    """The reference's exact greedy accumulation loop
    (docling_service.py:150-160): pack units until adding the next would
    exceed chunk_size; oversized single units become their own chunk."""
    out: list[tuple[int, str, int]] = []
    cur: list[str] = []
    cur_len = 0
    pos = 0
    for u in units:
        ulen = len(u) + (1 if cur else 0)
        if cur and cur_len + ulen > chunk_size:
            out.append((pos, " ".join(cur), len(cur)))
            pos += 1
            cur, cur_len = [u], len(u)
        else:
            cur.append(u)
            cur_len += ulen
    if cur:
        out.append((pos, " ".join(cur), len(cur)))
    return out


def chunk_sentence_exact(
    documents: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact sequential greedy packing via applyInPandas per document.

    Arrow-batched, partitioned by doc_id: each group is one document, so
    parallelism = number of documents — fine at any scale (documents are
    small relative to partitions). This is the UDAF/UDTF-shaped seam the
    reference exposes as pluggable chunking strategies
    (docling_service.py:208-271).
    """
    validate_chunk_config(chunk_size)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, r in pdf.iterrows():
            text = r["__text"] or ""
            units = [s.strip(ASCII_WS) for s in split_sentences(text)]
            if not units:
                units = ascii_split(text)
            if not units:
                units = [""]
            for pos, content, n_units in _greedy_pack(units, chunk_size):
                rows.append(
                    (r["doc_id"], pos, f"{r['doc_id']}-{pos}", content, n_units)
                )
        return pd.DataFrame(
            rows, columns=["doc_id", "pos", "chunk_id", "content", "n_units"]
        )

    prepared = ensure_parallelism(documents, id_col).select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("__text")
    )
    return prepared.groupBy("doc_id").applyInPandas(pack, _EXACT_SCHEMA)


# BPE-ish subword estimator: greedy <=4-char alphabetic pieces, digit
# runs, single punctuation — the same family as registry token_count_bpe.
# No token spans whitespace, so per-sentence counts sum exactly to the
# packed chunk's count when sentences are joined with spaces.
_BPE_RE = None  # compiled lazily inside the UDF closure


def _bpe_token_count(text: str) -> int:
    import re

    global _BPE_RE
    if _BPE_RE is None:
        # re.ASCII: \s must be the ASCII set (JVM/RE2 parity) — unicode
        # whitespace counts as a punctuation token, same as the oracles
        _BPE_RE = re.compile(r"[a-z]{1,4}|[0-9]+|[^a-z0-9\s]", re.ASCII)
    return len(_BPE_RE.findall(text.lower()))


def _greedy_pack_tokens(
    units: list[str], budget: int, overlap: int, count_fn=None
) -> list[tuple[int, str, int]]:
    """Greedy token-budget packing with trailing-unit overlap carry →
    [(pos, content, n_tokens)].

    Invariant (tested): n_tokens <= budget unless a chunk is a single
    unit that alone exceeds the budget (the reference's oversized-
    sentence case, docling_service.py:124-147, which it then word-
    splits; here the oversized unit stays whole and is flagged by its
    token count). Overlap keeps trailing whole units totaling <=
    `overlap` tokens — dropped entirely when carrying them would
    overflow the next chunk.

    `count_fn` (str -> int) is the tokenizer seam; chunk counts are the
    SUM of per-unit counts, exact whenever no token spans the joining
    whitespace (true of the default estimator and of word/BPE-family
    tokenizers).
    """
    count_fn = count_fn or _bpe_token_count
    out: list[tuple[int, str, int]] = []
    cur: list[str] = []
    cur_tok = 0
    pos = 0
    counts: list[int] = []
    for u in units:
        ut = count_fn(u)
        if cur and cur_tok + ut > budget:
            out.append((pos, " ".join(cur), cur_tok))
            pos += 1
            keep: list[str] = []
            keep_counts: list[int] = []
            keep_tok = 0
            for v, vt in zip(reversed(cur), reversed(counts)):
                if keep_tok + vt > overlap:
                    break
                keep.insert(0, v)
                keep_counts.insert(0, vt)
                keep_tok += vt
            if keep_tok + ut > budget:
                keep, keep_counts, keep_tok = [], [], 0
            cur = keep + [u]
            counts = keep_counts + [ut]
            cur_tok = keep_tok + ut
        else:
            cur.append(u)
            counts.append(ut)
            cur_tok += ut
    if cur:
        out.append((pos, " ".join(cur), cur_tok))
    return out


_HYBRID_SCHEMA = (
    "doc_id long, pos int, chunk_id string, content string, n_tokens int"
)


def chunk_hybrid(
    documents: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count=None,
) -> DataFrame:
    """Tokenizer-aware hybrid chunking: sentence units greedily packed
    into a TOKEN budget (not characters), with token-bounded overlap.

    Mirrors docling's HybridChunker semantics (docling_service.py:
    212-236 — tokenizer-counted packing with chunk_overlap carry,
    tokenizer BAAI/bge-small-en-v1.5 per config/settings.py:50).

    `token_count` (str -> int, picklable) is the tokenizer seam: pass a
    real tokenizer's count — e.g.
    ``lambda s: len(hf_tok(s)["input_ids"])`` — to get exact context-
    window budgets for a specific model. The callable ships to
    executors via cloudpickle, so it must be self-contained (load the
    tokenizer inside the closure, not from driver globals). Default is
    the engine's deterministic BPE-ish estimator (same regex family as
    token_count_bpe) — the HF tokenizer itself is a non-deterministic
    external dependency, so the oracled registry key stays on the
    default.

    `chunk_size`/`chunk_overlap` are budgets in TOKENS here — the unit
    the reference's HybridChunker uses — unlike the character budgets
    of chunk_fixed/chunk_sentence.
    """
    validate_chunk_config(chunk_size, chunk_overlap)
    # default tokenizer resolves in ONE place: _greedy_pack_tokens
    count_fn = token_count

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, r in pdf.iterrows():
            text = r["__text"] or ""
            units = [s.strip(ASCII_WS) for s in split_sentences(text)]
            # HybridChunker never drops text: whatever follows the LAST
            # sentence match becomes the final unit (chunk_sentence
            # keeps the reference packer's drop semantics; this operator
            # models docling's chunker, which is lossless). The last
            # match ends at the text's last terminator; anchoring there
            # — not on a leading-run regex — means text starting with a
            # bare terminator can't re-append the whole document as a
            # duplicate unit.
            tail = text[sentence_end(text):].strip(ASCII_WS) if units else ""
            if tail:
                units.append(tail)
            if not units:
                units = ascii_split(text)
            if not units:
                units = [""]
            for pos, content, n_tok in _greedy_pack_tokens(
                units, chunk_size, chunk_overlap, count_fn
            ):
                rows.append(
                    (r["doc_id"], pos, f"{r['doc_id']}-{pos}", content, n_tok)
                )
        return pd.DataFrame(
            rows, columns=["doc_id", "pos", "chunk_id", "content", "n_tokens"]
        )

    prepared = ensure_parallelism(documents, id_col).select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("__text")
    )
    return prepared.groupBy("doc_id").applyInPandas(pack, _HYBRID_SCHEMA)


def sentence_udtf_class():
    """Python UDTF that explodes a document into (pos, sentence) rows —
    the engine's table-function extension seam.

    The reference's chunking strategies are pluggable classes
    (docling_service.py:208-271 string-dispatch); scalar pandas_udf and
    grouped applyInPandas seams already mirror that for 1:1 and
    group:group shapes. This UDTF covers the remaining 1:N shape: a
    custom operator that emits a variable number of rows per input row,
    usable from SQL as a lateral table function:

        spark.udtf.register("split_sentences", sentence_udtf_class())
        SELECT d.doc_id, s.pos, s.sentence
        FROM documents d, LATERAL split_sentences(d.text) s

    Python UDTFs are the slow path (row-at-a-time Python) — production
    chunkers here use the Catalyst regexp/explode pipeline
    (chunk_sentence) or applyInPandas (chunk_sentence_exact); the UDTF
    exists as the API seam for logic that genuinely needs per-row
    generative Python. Sentence regex matches the reference's
    (docling_service.py:103).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, sentence: string")
    class SplitSentences:
        def eval(self, text: str):
            if not text:
                return
            for i, s in enumerate(split_sentences(text)):
                yield i, s.strip(ASCII_WS)

    return SplitSentences
