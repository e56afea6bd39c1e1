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

One chunk core: every chunker composes the pieces below, so each
chunking decision is made in exactly one place.

- `chunk_overlap_slices` is the one slicer: an `explode` of slice
  indices and a `substring`, JVM-side and shuffle-free. Fixed slices
  are overlap 0.
- `_pack_running_sum` is the one running-sum packer: a window running
  sum of a per-unit cost gives each unit its chunk `pos`, and each
  (doc_id, pos) group joins its units in order. Sentence, markdown and
  token-budget chunking differ only in units, cost and separator. The
  window partitions by doc_id, the natural layout at 100 TB (chunks
  co-partitioned with their documents).
- `_greedy_pack` is the one exact greedy loop (token budget with
  overlap carry); character packing is the same loop with cost
  len + 1, budget chunk_size + 1 and no overlap.
- `_pack_documents` is the one per-document applyInPandas shell, fed
  by the one Python unit rule `_python_units`.

Greedy packing is inherently sequential per document. The default
(`chunk_sentence`) uses the running-sum bucket approximation, which
ANSI SQL expresses directly; the exact scans (`chunk_sentence_exact`,
`chunk_hybrid`) are value-checked by recursive-CTE oracles that replay
the greedy loop. The size bound (content <= chunk_size + max_unit_len)
holds for both.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame
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
    """Fixed-width character slices: the slicer at overlap 0. Empty
    docs yield one empty chunk (the whole-doc fallback,
    docling_service.py:277-292).

    → (doc_id, pos, chunk_id, content)
    """
    return chunk_overlap_slices(documents, chunk_size, 0, id_col, text_col)


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

    → (doc_id, pos, chunk_id, content)
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


def _pack_running_sum(
    units: DataFrame,
    cost: Column,
    sep: str,
    budget: int | None = None,
    **aggs: Column,
) -> DataFrame:
    """The one running-sum packer over (doc_id, upos, unit) rows.

    A unit's chunk `pos` is the running sum of `cost` over its document
    in `upos` order, bucketed as floor((sum - 1) / budget) when a
    budget is given. Each (doc_id, pos) group joins its units in order
    with `sep`; `aggs` are extra named per-chunk aggregates.

    → (doc_id, pos, chunk_id, content, *aggs)
    """
    w = (
        Window.partitionBy("doc_id")
        .orderBy("upos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = F.sum(cost).over(w)
    if budget is not None:
        pos = F.floor((pos - 1) / F.lit(budget))
    return (
        units.withColumn("pos", pos.cast("int"))
        .groupBy("doc_id", "pos")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("upos", "unit"))),
                    lambda s: s["unit"],
                ),
                sep,
            ).alias("content"),
            *[c.alias(name) for name, c in aggs.items()],
        )
        .select(
            "doc_id",
            "pos",
            F.concat_ws("-", F.col("doc_id"), F.col("pos")).alias("chunk_id"),
            "content",
            *aggs,
        )
    )


def chunk_sentence(
    documents: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-pack chunking, running-sum bucket variant (oracled).

    Units are regex sentences (docling_service.py:103) stripped of
    ASCII whitespace; a document with no sentence terminators degrades
    to word units — the word-split path the reference applies to
    oversized sentences (docling_service.py:124-147). Packing: running
    sum of len + 1, bucket = floor((cum-1)/chunk_size); units in one
    bucket join with ' '.

    → (doc_id, pos, chunk_id, content, n_units)
    """
    validate_chunk_config(chunk_size)
    documents = ensure_parallelism(documents, id_col)
    sent = sentences(F.col(text_col))
    # one-argument lambda: handed `F.btrim` itself, transform would bind
    # its second parameter to the element index
    units = F.when(
        F.size(sent) > 0, F.transform(sent, lambda s: F.btrim(s, F.lit(ASCII_WS)))
    ).otherwise(tokens(F.col(text_col)))
    exploded = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(units).alias("upos", "unit"),
    )
    return _pack_running_sum(
        exploded,
        F.length("unit") + 1,
        " ",
        chunk_size,
        n_units=F.count(F.lit(1)).cast("int"),
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
        F.posexplode(F.split(F.col(text_col), "\n")).alias("upos", "unit"),
    )
    is_heading = F.col("unit").startswith("#")
    return (
        _pack_running_sum(
            lines,
            is_heading.cast("int"),
            "\n",
            heading=F.max(F.when(is_heading, F.col("unit"))),
        )
        .filter(F.length(F.trim(F.col("content"))) > 0)
        .select("doc_id", "pos", "chunk_id", "heading", "content")
    )


def chunk_token_budget(
    documents: DataFrame,
    token_budget: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Word units packed into <= `token_budget`-token chunks with the
    deterministic estimator ceil(len / 4) ≈ BPE tokens: the running-sum
    packer budgeted in tokens instead of characters, the
    LLM-context-window chunker.

    → (doc_id, pos, chunk_id, content, est_tokens)
    """
    validate_chunk_config(token_budget)
    documents = ensure_parallelism(documents, id_col)
    words = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("upos", "unit"),
    )
    est = F.ceil(F.length("unit") / 4.0).cast("long")
    return _pack_running_sum(
        words, est, " ", token_budget, est_tokens=F.sum(est)
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


# ---- exact greedy packing (applyInPandas; recursive-CTE value oracles) ----


def _greedy_pack(
    units: list[str], costs: list[int], budget: int, overlap: int
) -> list[tuple[int, list[str], int]]:
    """The one greedy packing loop → [(pos, chunk units, cost sum)].

    The reference's accumulation loop (docling_service.py:150-160):
    pack units until adding the next would exceed `budget`. An
    oversized single unit becomes its own chunk (the reference then
    word-splits it, docling_service.py:124-147; here it stays whole).
    On each flush the next chunk first carries the trailing whole units
    of the last one that cost <= `overlap` in total, dropped entirely
    when carrying them would overflow the next chunk.

    Character packing is this loop with cost len + 1, budget
    chunk_size + 1 and overlap 0: the joined length of a chunk plus one
    is its cost sum, and no unit costs 0, so nothing is carried.
    """
    out: list[tuple[int, list[str], int]] = []
    cur: list[str] = []
    cur_costs: list[int] = []
    cur_cost = 0
    for u, c in zip(units, costs):
        if cur and cur_cost + c > budget:
            out.append((len(out), cur, cur_cost))
            n_keep = 0
            keep_cost = 0
            for v in reversed(cur_costs):
                if keep_cost + v > overlap:
                    break
                n_keep += 1
                keep_cost += v
            if keep_cost + c > budget:
                n_keep, keep_cost = 0, 0
            cur = cur[len(cur) - n_keep:] + [u]
            cur_costs = cur_costs[len(cur_costs) - n_keep:] + [c]
            cur_cost = keep_cost + c
        else:
            cur.append(u)
            cur_costs.append(c)
            cur_cost += c
    if cur:
        out.append((len(out), cur, cur_cost))
    return out


def _python_units(text: str, tail: bool) -> list[str]:
    """The one Python unit rule: the ASCII_WS-stripped sentences, else
    the ASCII words, else [""]. With `tail`, whatever follows the last
    sentence becomes one more unit. The tail starts where the last match
    ends, so text that opens with a bare terminator cannot re-append
    the whole document as a duplicate unit."""
    units = [s.strip(ASCII_WS) for s in split_sentences(text)]
    rest = text[sentence_end(text):].strip(ASCII_WS) if tail and units else ""
    if rest:
        units.append(rest)
    return units or ascii_split(text) or [""]


def _pack_documents(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    count_col: str,
    pack: Callable[[str], Iterable[tuple[int, str, int]]],
) -> DataFrame:
    """The one per-document applyInPandas shell: `pack(text)` yields
    one document's (pos, content, count) rows.

    Arrow-batched, grouped by doc_id: each group is one document, so
    parallelism = number of documents — fine at any scale (documents
    are small relative to partitions). This is the UDAF/UDTF-shaped
    seam the reference exposes as pluggable chunking strategies
    (docling_service.py:208-271).

    → (doc_id, pos, chunk_id, content, <count_col>)
    """
    cols = ["doc_id", "pos", "chunk_id", "content", count_col]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = [
            (d, pos, f"{d}-{pos}", content, n)
            for d, text in zip(pdf["doc_id"], pdf["__text"])
            for pos, content, n in pack(text or "")
        ]
        return pd.DataFrame(rows, columns=cols)

    prepared = ensure_parallelism(documents, id_col).select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("__text")
    )
    return prepared.groupBy("doc_id").applyInPandas(
        run, f"doc_id long, pos int, chunk_id string, content string, {count_col} int"
    )


def chunk_sentence_exact(
    documents: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact sequential greedy packing of the Python sentence units
    into <= chunk_size characters, one document per group.

    → (doc_id, pos, chunk_id, content, n_units)
    """
    validate_chunk_config(chunk_size)

    def pack(text: str):
        units = _python_units(text, tail=False)
        costs = [len(u) + 1 for u in units]
        for pos, chunk, _ in _greedy_pack(units, costs, chunk_size + 1, 0):
            yield pos, " ".join(chunk), len(chunk)

    return _pack_documents(documents, id_col, text_col, "n_units", pack)


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
    HybridChunker never drops text, so the text after the last
    sentence is one more unit (chunk_sentence keeps the reference
    packer's drop semantics).

    `token_count` (str -> int, picklable) is the tokenizer seam: pass a
    real tokenizer's count — e.g.
    ``lambda s: len(hf_tok(s)["input_ids"])`` — to get exact context-
    window budgets for a specific model. The callable ships to
    executors via cloudpickle, so it must be self-contained (load the
    tokenizer inside the closure, not from driver globals). Default is
    the engine's deterministic BPE-ish estimator (same regex family as
    token_count_bpe) — the HF tokenizer itself is a non-deterministic
    external dependency, so the oracled registry key stays on the
    default. Chunk counts are the SUM of per-unit counts, exact
    whenever no token spans the joining whitespace (true of the
    default estimator and of word/BPE-family tokenizers).

    `chunk_size`/`chunk_overlap` are budgets in TOKENS here — the unit
    the reference's HybridChunker uses — unlike the character budgets
    of chunk_fixed/chunk_sentence.

    Invariant (tested): n_tokens <= chunk_size unless a chunk is a
    single unit that alone exceeds it.

    → (doc_id, pos, chunk_id, content, n_tokens)
    """
    validate_chunk_config(chunk_size, chunk_overlap)
    count_fn = token_count or _bpe_token_count

    def pack(text: str):
        units = _python_units(text, tail=True)
        costs = [count_fn(u) for u in units]
        for pos, chunk, n_tok in _greedy_pack(units, costs, chunk_size, chunk_overlap):
            yield pos, " ".join(chunk), n_tok

    return _pack_documents(documents, id_col, text_col, "n_tokens", pack)


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
