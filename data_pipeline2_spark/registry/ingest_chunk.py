"""Registry part-module — see registry/__init__.py."""

from __future__ import annotations

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline2_spark.operators import (
    aggregates,
    chunking,
    dedup,
    joins,
    similarity,
    textanalysis,
)
from data_pipeline2_spark.registry._core import (
    _cos_sql,
    _register,
    _t,
)

@_register(
    "ingest_documents",
    """
    SELECT doc_id,
           'doc_' || doc_id::VARCHAR || '.md' AS filename,
           to_base64(encode(text)) AS content_b64,
           'pending' AS status,
           CAST(row_number() OVER (ORDER BY doc_id) AS INT) AS submit_seq
    FROM documents WHERE doc_id < 100
    """,
)
def q_ingest_documents(spark, sf_dir):
    # the submit path: assign id/filename, base64 the payload, mark
    # pending, preserve arrival order (document_processor.py:47-74)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    w = Window.orderBy("doc_id")
    return docs.select(
        "doc_id",
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".md")).alias(
            "filename"
        ),
        F.translate(
            F.base64(F.encode(F.col("text"), "utf-8")), "\r\n", ""
        ).alias("content_b64"),
        F.lit("pending").alias("status"),
        F.row_number().over(w).alias("submit_seq"),
    )


@_register(
    "mime_detect",
    """
    SELECT doc_id, filename,
           CASE lower(string_split(filename, '.')[-1])
                WHEN 'pdf' THEN 'application/pdf'
                WHEN 'md' THEN 'text/markdown'
                WHEN 'txt' THEN 'text/plain'
                WHEN 'png' THEN 'image/png'
                ELSE 'application/octet-stream' END AS content_type
    FROM (SELECT doc_id,
                 'doc_' || doc_id::VARCHAR ||
                 CASE doc_id % 4 WHEN 0 THEN '.pdf' WHEN 1 THEN '.md'
                                 WHEN 2 THEN '.txt' ELSE '.png' END AS filename
          FROM documents)
    """,
)
def q_mime_detect(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    filename = F.concat(
        F.lit("doc_"),
        F.col("doc_id").cast("string"),
        F.element_at(
            F.array(F.lit(".pdf"), F.lit(".md"), F.lit(".txt"), F.lit(".png")),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ),
    )
    ext = F.lower(F.element_at(F.split(filename, r"\."), -1))
    mime = (
        F.when(ext == "pdf", "application/pdf")
        .when(ext == "md", "text/markdown")
        .when(ext == "txt", "text/plain")
        .when(ext == "png", "image/png")
        .otherwise("application/octet-stream")
    )
    return docs.select(
        "doc_id", filename.alias("filename"), mime.alias("content_type")
    )


# ========================================================= chunking (§2.3)
# The oracle half of the chunk core (operators/chunking.py): one SQL
# fragment builder per chunking decision, each a query over a relation
# `src` that has (doc_id, text).

# Python str.strip(ASCII_WS) / Spark btrim(s, ASCII_WS): the 6-char set
_ASCII_WS_SQL = "' '||chr(9)||chr(10)||chr(13)||chr(12)||chr(11)"
_SENTS_SQL = (
    "list_transform(regexp_extract_all(text, '[^.!?]+[.!?]+'), "
    f"s -> trim(s, {_ASCII_WS_SQL}))"
)


def _slices_sql(src: str, size: int, overlap: int = 0) -> str:
    """chunking.chunk_overlap_slices → (doc_id, pos, chunk_id, content)."""
    stride = size - overlap
    return f"""
      SELECT doc_id, CAST(i AS INT) AS pos,
             doc_id::VARCHAR || '-' || i::VARCHAR AS chunk_id,
             substring(text, CAST(i*{stride}+1 AS INT), {size}) AS content
      FROM (SELECT doc_id, text,
                   unnest(generate_series(0, greatest(CAST(
                     ceil((length(text) - {overlap})/{stride}.0) AS BIGINT), 1) - 1)) AS i
            FROM {src})"""


def _sentence_chunks_sql(src: str, size: int) -> str:
    """chunking.chunk_sentence → (doc_id, pos, chunk_id, content,
    n_units): trimmed sentence units, else the words of
    chunking.tokens; bucket = floor((running sum of len + 1 - 1) / size)."""
    return f"""
      SELECT doc_id, pos,
             doc_id::VARCHAR || '-' || pos::VARCHAR AS chunk_id,
             string_agg(unit, ' ' ORDER BY upos) AS content,
             CAST(count(*) AS INT) AS n_units
      FROM (
        SELECT doc_id, unit, upos,
               CAST(floor((sum(length(unit) + 1) OVER (PARTITION BY doc_id
                      ORDER BY upos ROWS UNBOUNDED PRECEDING) - 1)
                    / {size}.0) AS INT) AS pos
        FROM (SELECT doc_id, unnest(us) AS unit,
                     generate_subscripts(us, 1) AS upos
              FROM (SELECT doc_id,
                           CASE WHEN len(sents) > 0 THEN sents
                                WHEN len(trim(text, ' ')) = 0 THEN []
                                ELSE regexp_split_to_array(trim(text, ' '), '\\s+')
                           END AS us
                    FROM (SELECT doc_id, text, {_SENTS_SQL} AS sents
                          FROM {src}))))
      GROUP BY doc_id, pos"""


def _python_units_sql(src: str, tail: bool = False) -> str:
    """chunking._python_units → (doc_id, idx, unit), idx from 1: the
    trimmed sentences (plus, with `tail`, the trimmed text after the
    last sentence when non-empty), else the non-empty \\s+ words, else
    ['']. Every match ends on a terminator run, so greedy '.*[.!?]'
    (dotall) cuts at the same boundary as the last match."""
    first, tail_col = "sents", ""
    if tail:
        first = ("CASE WHEN len(tail) > 0 THEN list_append(sents, tail) "
                 "ELSE sents END")
        tail_col = (", trim(regexp_replace(text, '.*[.!?]', '', 's'), "
                    f"{_ASCII_WS_SQL}) AS tail")
    return rf"""
      SELECT doc_id, u.idx, u.unit
      FROM (
        SELECT doc_id,
          CASE WHEN len(sents) > 0 THEN {first}
               WHEN len(list_filter(regexp_split_to_array(coalesce(text, ''),
                        '\s+'), w -> w <> '')) > 0
               THEN list_filter(regexp_split_to_array(text, '\s+'),
                                w -> w <> '')
               ELSE ['']
          END AS us
        FROM (SELECT doc_id, text, {_SENTS_SQL} AS sents{tail_col}
              FROM {src})
      ), LATERAL (SELECT unnest(us) AS unit,
                         generate_subscripts(us, 1) AS idx) u"""


@_register("chunk_fixed", _slices_sql("documents", 100))
def q_chunk_fixed(spark, sf_dir):
    return chunking.chunk_fixed(_t(spark, sf_dir, "documents"), 100)


@_register("chunk_overlap", _slices_sql("documents", 500, 50))
def q_chunk_overlap(spark, sf_dir):
    return chunking.chunk_overlap_slices(_t(spark, sf_dir, "documents"), 500, 50)


@_register("chunk_sentence", _sentence_chunks_sql("documents", 500))
def q_chunk_sentence(spark, sf_dir):
    return chunking.chunk_sentence(_t(spark, sf_dir, "documents"), 500)


@_register(
    "chunk_markdown",
    """
    WITH lines AS (
      SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS lpos
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)
    ), sec AS (
      SELECT doc_id, line, lpos, starts_with(line, '#') AS is_h,
             CAST(sum(CASE WHEN starts_with(line, '#') THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY lpos
                        ROWS UNBOUNDED PRECEDING) AS INT) AS pos
      FROM lines
    )
    SELECT doc_id, pos,
           doc_id::VARCHAR || '-' || pos::VARCHAR AS chunk_id,
           max(CASE WHEN is_h THEN line END) AS heading,
           string_agg(line, chr(10) ORDER BY lpos) AS content
    FROM sec GROUP BY doc_id, pos
    HAVING length(trim(string_agg(line, chr(10) ORDER BY lpos), ' ')) > 0
    """,
)
def q_chunk_markdown(spark, sf_dir):
    return chunking.chunk_markdown(_t(spark, sf_dir, "documents"))


@_register(
    "chunk_metadata_enrich",
    f"""
    WITH chunks AS ({_slices_sql("documents", 100)})
    SELECT doc_id, pos, chunk_id, content,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS INT) AS chunk_number,
           CAST(count(*) OVER (PARTITION BY doc_id) AS INT) AS total_chunks,
           'fixed' AS strategy
    FROM chunks
    """,
)
def q_chunk_metadata_enrich(spark, sf_dir):
    fixed = chunking.chunk_fixed(_t(spark, sf_dir, "documents"), 100)
    return chunking.chunk_metadata_enrich(fixed, "fixed")


@_register(
    "chunk_fallback",
    f"""
    SELECT *, FALSE AS is_fallback
    FROM ({_slices_sql("documents WHERE doc_id % 5 <> 0", 100)})
    UNION ALL
    SELECT doc_id, 0 AS pos, doc_id::VARCHAR || '-0' AS chunk_id,
           text AS content, TRUE AS is_fallback
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def q_chunk_fallback(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # chunk only part of the corpus; fallback must cover the rest
    subset = docs.filter(F.col("doc_id") % 5 != 0)
    chunks = chunking.chunk_fixed(subset, 100)
    return chunking.chunk_fallback(docs, chunks)


@_register(
    "base64_roundtrip",
    """
    SELECT doc_id, to_base64(encode(text)) AS b64,
           (decode(from_base64(to_base64(encode(text)))) = text) AS ok
    FROM documents
    """,
)
def q_base64_roundtrip(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # Spark's base64 is MIME-chunked (CRLF every 76 chars); canonical
    # unchunked form matches every other engine (incl. the oracle).
    b64 = F.translate(F.base64(F.encode(F.col("text"), "utf-8")), "\r\n", "")
    return docs.select(
        "doc_id",
        b64.alias("b64"),
        (F.decode(F.unbase64(b64), "utf-8") == F.col("text")).alias("ok"),
    )


@_register(
    "chunk_count_by_strategy",
    f"""
    SELECT 'fixed' AS strategy,
           CAST(sum(greatest(CAST(ceil(length(text)/100.0) AS BIGINT), 1)) AS BIGINT) AS chunks
    FROM documents
    UNION ALL
    SELECT 'sentence' AS strategy, CAST(count(*) AS BIGINT) AS chunks
    FROM ({_sentence_chunks_sql("documents", 500)})
    """,
)
def q_chunk_count_by_strategy(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    fixed = chunking.chunk_fixed(docs, 100).select(
        F.lit("fixed").alias("strategy"), "chunk_id"
    )
    sent = chunking.chunk_sentence(docs, 500).select(
        F.lit("sentence").alias("strategy"), "chunk_id"
    )
    return aggregates.group_count(
        fixed.unionByName(sent), ["strategy"], "chunks"
    )


@_register(
    "chunk_size_histogram",
    f"""
    SELECT CAST(floor(length(content) / 20.0) AS BIGINT) AS bucket,
           count(*) AS cnt
    FROM ({_slices_sql("documents", 100)})
    GROUP BY 1
    """,
)
def q_chunk_size_histogram(spark, sf_dir):
    fixed = chunking.chunk_fixed(_t(spark, sf_dir, "documents"), 100)
    return aggregates.length_histogram(fixed, "content", [], bucket_width=20)


@_register(
    "chunk_token_budget",
    """
    WITH units AS (
      SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
      FROM (SELECT doc_id, CASE WHEN len(trim(text, ' ')) = 0 THEN []
                 ELSE regexp_split_to_array(trim(text, ' '), '\\s+') END AS ws
            FROM documents)
    ), bucketed AS (
      SELECT doc_id, w, i,
             CAST(floor((sum(CAST(ceil(length(w) / 4.0) AS BIGINT))
                  OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) - 1) / 64.0) AS INT) AS pos
      FROM units
    )
    SELECT doc_id, pos,
           doc_id::VARCHAR || '-' || pos::VARCHAR AS chunk_id,
           string_agg(w, ' ' ORDER BY i) AS content,
           CAST(sum(CAST(ceil(length(w) / 4.0) AS BIGINT)) AS BIGINT) AS est_tokens
    FROM bucketed GROUP BY doc_id, pos
    """,
)
def q_chunk_token_budget(spark, sf_dir):
    return chunking.chunk_token_budget(_t(spark, sf_dir, "documents"), 64)


@_register(
    "pack_sequences",
    """
    WITH sized AS (
      SELECT doc_id,
             CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, est_tokens,
             CAST(floor((sum(est_tokens) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - 1) / 512.0) AS INT) AS seq_id
      FROM sized
    )
    SELECT seq_id, count(*) AS docs,
           CAST(sum(est_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM packed GROUP BY seq_id
    """,
)
def q_pack_sequences(spark, sf_dir):
    # training-sequence packing: greedily fill 512-token sequences with
    # whole documents in a deterministic order (running-sum bucketing —
    # the distributed approximation of first-fit packing). At scale the
    # global window becomes per-partition packing + partition offsets.
    docs = _t(spark, sf_dir, "documents")
    est = F.ceil(F.col("n_chars") / 4.0).cast("long")
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = docs.select(
        "doc_id",
        est.alias("est_tokens"),
        F.floor((F.sum(est).over(w) - 1) / F.lit(512.0)).cast("int").alias("seq_id"),
    )
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("est_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@_register(
    "dedup_incremental",
    """
    SELECT d.doc_id, sha256(lower(regexp_replace(trim(d.text, ' '), '\\s+', ' ', 'g'))) AS content_sha
    FROM documents d
    WHERE d.doc_id >= 250
      AND (d.text IS NULL  -- null fingerprint: unprovable dup, kept
                           -- (left_anti on a NULL key matches nothing)
        OR sha256(lower(regexp_replace(trim(d.text, ' '), '\\s+', ' ', 'g'))) NOT IN (
          SELECT sha256(lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g')))
          FROM documents WHERE doc_id < 250 AND text IS NOT NULL))
    """,
)
def q_dedup_incremental(spark, sf_dir):
    # incremental corpus growth: keep only new docs whose fingerprint is
    # absent from the existing corpus — fingerprint anti-join, the daily
    # ingestion dedup pass (composition of doc_fingerprint + left_anti)
    docs = _t(spark, sf_dir, "documents")
    old = textanalysis.fingerprint(docs.filter(F.col("doc_id") < 250))
    new = textanalysis.fingerprint(docs.filter(F.col("doc_id") >= 250))
    return joins.join_anti_incremental(
        new, old.select("content_sha"), ["content_sha"]
    ).select("doc_id", "content_sha")


# ============================================== embeddings + similarity
# (§2.4, §2.6) and LLM-pipeline dedup/text ops (§2.10)


@_register(
    "embedding_cache_lookup",
    """
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0)
    """,
)
def q_embedding_cache_lookup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cached = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    pending = joins.join_anti_incremental(emb, cached, ["vec_id"])
    return pending.select("vec_id", "label")


@_register(
    "search_cache_key",
    """
    SELECT vec_id,
           sha256(concat_ws('|', vec_id::VARCHAR, 'hash64', 'label=1', '10')) AS cache_key
    FROM embeddings WHERE vec_id < 50
    """,
)
def q_search_cache_key(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    key = similarity.search_cache_key(
        F.lit("hash64"), F.lit("label=1"), F.lit(10), F.col("vec_id").cast("string")
    )
    return emb.select("vec_id", key.alias("cache_key"))


def _knn_query_vec(spark, sf_dir):
    """One-row query-vector DataFrame (the embedding of vec_id 0) —
    resolved in-plan via knn_cosine's broadcast cross join, not a
    driver-side collect (which would run an extra scan per call)."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == 0).select("embedding")


@_register(
    "knn_cosine",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, round({_cos_sql('e.embedding', 'q.qv')}, 6) AS score
    FROM embeddings e, q
    ORDER BY score DESC, e.vec_id LIMIT 10
    """,
)
def q_knn_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.knn_cosine(emb, _knn_query_vec(spark, sf_dir), k=10)


@_register(
    "knn_cosine_filtered",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, round({_cos_sql('e.embedding', 'q.qv')}, 6) AS score
    FROM embeddings e, q WHERE e.label = 1
    ORDER BY score DESC, e.vec_id LIMIT 10
    """,
)
def q_knn_cosine_filtered(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.knn_cosine(
        emb, _knn_query_vec(spark, sf_dir), k=10, filter_col="label", filter_value=1
    )


@_register(
    "knn_batch",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
    s AS (
      SELECT q.qid, e.vec_id, round({_cos_sql('e.embedding', 'q.qv')}, 6) AS score
      FROM embeddings e CROSS JOIN q
    ), r AS (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
      FROM s)
    SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM r WHERE rank <= 3
    """,
)
def q_knn_batch(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.knn_batch(emb, queries, k=3)


@_register(
    "dedup_exact",
    """
    SELECT sha256(lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g'))) AS content_sha,
           min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents WHERE text IS NOT NULL GROUP BY 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    return dedup.dedup_exact(_t(spark, sf_dir, "documents"))


def _minhash_mh_ctes(n_perm: int = 16) -> str:
    """Shared oracle CTE chain replaying the engine's minhash family
    (dedup.minhash_coeffs — identical coefficient literals): distinct
    60-bit shingle fingerprints `shd`, then integer universal-hash
    minima `mh`. Expects a `sh(doc_id, shingle)` CTE upstream."""
    a, b = dedup.minhash_coeffs(n_perm)
    rows = ", ".join(f"({p}, {a[p]}, {b[p]})" for p in range(n_perm))
    return f"""shd AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS sh64
      FROM sh
    ), mh AS MATERIALIZED (
      SELECT doc_id, c.p AS p,
             min((c.a * (sh64 % 2147483647) + c.b) % 2147483647) AS mh
      FROM shd CROSS JOIN (VALUES {rows}) AS c(p, a, b)
      GROUP BY doc_id, c.p
    )"""


def _lsh_bands_cand_ctes(cand_where: str = "") -> str:
    """Shared oracle CTE pair replaying the engine's LSH banding and
    candidate generation (band width = dedup.BAND_SIZE — retunes apply
    everywhere at once). Expects the `mh` CTE upstream; `cand_where`
    appends an extra predicate to the candidate join (incremental
    variants restrict to pairs touching the new batch)."""
    return f"""bands AS MATERIALIZED (
      SELECT doc_id, CAST(floor(p/{dedup.BAND_SIZE}.0) AS INT) AS band,
             md5(string_agg(mh::VARCHAR, ',' ORDER BY p)) AS band_key
      FROM mh GROUP BY doc_id, CAST(floor(p/{dedup.BAND_SIZE}.0) AS INT)
    ), cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      {cand_where}
    )"""


def _jaccard_verify_ctes(threshold: float = 0.5) -> str:
    """Shared oracle CTE chain for the exact-Jaccard verify over hashed
    shingles: per-doc counts, candidate intersections, and the `pairs`
    CTE of verified (doc_a, doc_b). Expects `shd` and `cand` upstream."""
    return f"""counts AS MATERIALIZED (
      SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id
    ), inter AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c JOIN shd sa ON sa.doc_id = c.doc_a
                  JOIN shd sb ON sb.doc_id = c.doc_b AND sb.sh64 = sa.sh64
      GROUP BY c.doc_a, c.doc_b
    ), pairs AS MATERIALIZED (
      SELECT i.doc_a, i.doc_b
      FROM inter i JOIN counts ca ON ca.doc_id = i.doc_a
                   JOIN counts cb ON cb.doc_id = i.doc_b
      WHERE round(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) >= {threshold}
    )"""


_MINHASH_SQL = f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
      FROM documents WHERE len(trim(text, ' ')) > 0
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
            FROM toks WHERE len(ws) >= 3)
    ), {_minhash_mh_ctes()}, {_lsh_bands_cand_ctes()},
    {_jaccard_verify_ctes(0.5)}
    SELECT i.doc_a, i.doc_b,
           round(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
    FROM inter i JOIN counts ca ON ca.doc_id = i.doc_a
                 JOIN counts cb ON cb.doc_id = i.doc_b
    WHERE round(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.5
"""


@_register("dedup_near_minhash", _MINHASH_SQL)
def q_dedup_near_minhash(spark, sf_dir):
    return dedup.dedup_near_minhash(_t(spark, sf_dir, "documents"))


@_register(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
      FROM documents WHERE len(trim(text, ' ')) > 0
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
            FROM toks WHERE len(ws) >= 3)
    ), counts AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
    FROM inter i JOIN counts ca ON ca.doc_id = i.doc_a
                 JOIN counts cb ON cb.doc_id = i.doc_b
    WHERE round(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact (no-LSH) n-gram Jaccard — the ground truth dedup_near_minhash
    approximates; same output contract."""
    return dedup.dedup_ngram_jaccard(_t(spark, sf_dir, "documents"))


@_register(
    "dedup_near_embedding",
    """
    WITH n AS (
      SELECT vec_id, label,
             list_transform(embedding,
                x -> x::DOUBLE / sqrt(list_aggregate(list_transform(embedding,
                     y -> y::DOUBLE * y::DOUBLE), 'sum'))) AS nv
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_aggregate(list_transform(generate_series(1, len(a.nv)),
                 i -> a.nv[i] * b.nv[i]), 'sum'), 6) AS cos
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_aggregate(list_transform(generate_series(1, len(a.nv)),
              i -> a.nv[i] * b.nv[i]), 'sum'), 6) >= 0.35
    """,
)
def q_dedup_near_embedding(spark, sf_dir):
    """Threshold 0.35 sits in the real tail of the synthetic embedding
    distribution (max intra-label cosine ≈ 0.47): ~15-30 pairs at test
    SFs — a 0.5 threshold matches nothing and would vacuously pass."""
    return dedup.dedup_near_embedding(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, group_col="label"
    )


