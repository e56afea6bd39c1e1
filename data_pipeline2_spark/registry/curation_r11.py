"""Registry part-module, round 11 — see registry/__init__.py.

- `semantic_search_e2e`: the composed SERVING lifecycle (ingest →
  sentence-chunk → cache-aside embed → index → cosine top-k serve →
  search-cache key) as ONE oracled census key (VERDICT r10 item 2),
  mirroring round 10's `training_pipeline_e2e` for the curation spine.
  The oracle replays every stage in DuckDB — including a BIT-IDENTICAL
  SQL replay of the sha256-seeded hash embedder (power-of-two /32768
  arithmetic, sequential float64 norm, one float32 cast), so the serve
  row's `detail` checksum pins the actual ranked answer, and the
  cache-aside stage's hit/miss counts pin the anti-join.

Reference anchors: document_processor.py:96-132 (process → chunk),
embedding_service.py:141-214 (cache-aside + batch generate),
vector_storage.py:69-100 (cosine kNN), search_cache.py:18-33 (request
key) — the lifecycle SURVEY §3.3 documents, composed.
"""

from __future__ import annotations

from data_pipeline2_spark.operators import serving_e2e
from data_pipeline2_spark.registry._core import _cos_sql, _register, _t
from data_pipeline2_spark.registry.ingest_chunk import _sentence_chunks_sql


def _hash_embed_ctes(prefix: str, src: str, dim: int = 64) -> str:
    """CTE fragment replaying embedding.hash_embed_one over `src`
    (chunk_id, content) → `{prefix}vec` (chunk_id, e float32-list).

    Bit-exact by construction: sha256(content || '|' || counter) hex →
    16-bit big-endian pairs → v = n/32768 - 1 (exact: 32768 is a power
    of two) → norm = sqrt of the SEQUENTIAL float64 sum of squares
    (list_aggregate 'sum' folds in list order, matching Python's
    left-to-right sum) → IEEE divide → one float32 cast, identical to
    ArrayType(FloatType()) serialization. Verified bit-identical
    against hash_embed_one in tests/test_serving_e2e.py."""
    if dim % 16 != 0:
        raise ValueError(f"dim must be a multiple of 16, got {dim}")
    n_dig = dim // 16
    return f"""
    {prefix}comp AS (
      SELECT chunk_id, c, i,
             CAST(('0x' || substring(sha256(content || '|' || c::VARCHAR),
                  (i-1)*4 + 1, 4)) AS BIGINT) / 32768.0 - 1.0 AS v
      FROM {src},
           (SELECT unnest(generate_series(0, {n_dig - 1})) AS c),
           (SELECT unnest(generate_series(1, 16)) AS i)
    ),
    {prefix}raw AS (
      SELECT chunk_id, list(v ORDER BY c, i) AS raw
      FROM {prefix}comp GROUP BY chunk_id
    ),
    {prefix}vec AS MATERIALIZED (
      SELECT chunk_id,
             list_transform(raw, x -> CAST(x / sqrt(list_aggregate(
               list_transform(raw, y -> y * y), 'sum')) AS FLOAT)) AS e
      FROM {prefix}raw
    )"""


def _chunk_nb_ctes(chunk_chars: int = 500) -> str:
    """CTE fragment: sentence-chunk `documents` at `chunk_chars` →
    `chunks` (doc_id, pos, chunk_id, content) and `nb` (the embeddable
    subset) — the chunk_sentence replay both r11 compositions share."""
    return f"""chunks AS MATERIALIZED (
      SELECT doc_id, pos, chunk_id, content
      FROM ({_sentence_chunks_sql("documents", chunk_chars)})
    ), nb AS MATERIALIZED (
      -- embeddable = contains a non-whitespace char (the provider's
      -- python strip() blank test; see the embed_provider oracle)
      SELECT doc_id, chunk_id, content FROM chunks
      WHERE regexp_replace(content, '\\s', '', 'g') <> ''
    )"""


def _sem_e2e_sql(
    query_text: str = serving_e2e.QUERY_TEXT,
    chunk_chars: int = 500,
    cache_mod: int = 3,
    k: int = 10,
    dim: int = 64,
) -> str:
    m = int(cache_mod)
    cached = f"(((doc_id % {m}) + {m}) % {m}) = 0"  # pmod parity
    q = query_text.replace("'", "''")
    tag = serving_e2e.CACHE_TAG
    return f"""
    WITH {_chunk_nb_ctes(chunk_chars)},
    {_hash_embed_ctes('e', 'nb', dim)},
    qsrc AS (SELECT '__query__' AS chunk_id, '{q}' AS content),
    {_hash_embed_ctes('q', 'qsrc', dim)},
    scored AS (
      SELECT v.chunk_id, round({_cos_sql('v.e', 'qq.e')}, 6) AS score
      FROM evec v, qvec qq
    ), topk AS MATERIALIZED (
      SELECT chunk_id, score, rank FROM (
        SELECT chunk_id, score,
               row_number() OVER (ORDER BY score DESC, chunk_id) AS rank
        FROM scored)
      WHERE rank <= {k}
    ), chk AS (
      SELECT count(*)::BIGINT AS c,
             CAST('0x' || substring(md5(coalesce(string_agg(
                  lpad(rank::VARCHAR, 4, '0') || ':' || chunk_id || ':' ||
                  CAST(floor(score * 1000000.0 + 0.5) AS BIGINT)::VARCHAR,
                  '|' ORDER BY rank), '')), 1, 15) AS BIGINT) AS d
      FROM topk
    ), ck AS (
      SELECT CAST('0x' || substring(md5(sha256(concat_ws('|',
               '{tag}', 'hash64', '{q}', '{k}'))), 1, 15) AS BIGINT) AS d
    ),
    c1 AS (SELECT count(*)::BIGINT AS c FROM documents),
    c2 AS (SELECT count(*)::BIGINT AS c FROM chunks),
    c3 AS (SELECT count(*)::BIGINT AS c FROM nb WHERE {cached}),
    c4p AS (SELECT count(*)::BIGINT AS c FROM chunks
            WHERE chunk_id NOT IN
              (SELECT chunk_id FROM nb WHERE {cached})),
    c5i AS (SELECT count(*)::BIGINT AS c FROM nb),
    c5d AS (SELECT count(DISTINCT chunk_id)::BIGINT AS c FROM nb)
    SELECT CAST(1 AS INT) AS stage_idx, 'ingest' AS stage,
           c1.c AS rows_in, c1.c AS rows_out,
           CAST(NULL AS BIGINT) AS detail FROM c1
    UNION ALL SELECT 2, 'chunk', c1.c, c2.c, NULL FROM c1, c2
    UNION ALL SELECT 3, 'cache_lookup', c2.c, c3.c, NULL FROM c2, c3
    UNION ALL SELECT 4, 'embed_miss', c4p.c, c5i.c - c3.c, NULL
              FROM c4p, c5i, c3
    UNION ALL SELECT 5, 'index', c5i.c, c5d.c, NULL FROM c5i, c5d
    UNION ALL SELECT 6, 'serve', CAST({k} AS BIGINT), chk.c, chk.d FROM chk
    UNION ALL SELECT 7, 'search_cache', CAST(1 AS BIGINT),
              CAST(1 AS BIGINT), ck.d FROM ck
    """


@_register("semantic_search_e2e", _sem_e2e_sql())
def q_semantic_search_e2e(spark, sf_dir):
    """The serving lifecycle as a 7-row per-stage census — proves the
    serving operators COMPOSE (chunk store → embedding cache-aside →
    vector index → ranked kNN answer → request cache key), with the
    ranked answer itself value-checked via the serve row's checksum."""
    return serving_e2e.semantic_search_census(
        _t(spark, sf_dir, "documents")
    )


def _stream_search_sql(
    query_text: str = serving_e2e.QUERY_TEXT,
    chunk_chars: int = 500,
    k_cells: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    nprobe: int = 2,
    topk: int = 10,
) -> str:
    from data_pipeline2_spark.registry.vector_partsupp import (
        _kmeans_cte_parts,
    )

    parts, cfinal = _kmeans_cte_parts(k_cells, n_iter, dim, rel="vecs")
    sq = (
        "list_aggregate(list_transform(generate_series(1, len(q.e)), "
        "i -> (q.e[i]::DOUBLE - c.cvec[i]) * (q.e[i]::DOUBLE - c.cvec[i])"
        "), 'sum')"
    )
    q = query_text.replace("'", "''")
    kmeans_ctes = ",\n    ".join(parts)
    return f"""
    WITH {_chunk_nb_ctes(chunk_chars)},
    {_hash_embed_ctes('e', 'nb', dim)},
    vecs AS MATERIALIZED (
      SELECT CAST('0x' || substring(md5(chunk_id), 1, 15) AS BIGINT)
               AS vec_id,
             e AS embedding
      FROM evec
    ),
    {kmeans_ctes},
    qsrc AS (SELECT '__query__' AS chunk_id, '{q}' AS content),
    {_hash_embed_ctes('q', 'qsrc', dim)},
    probes AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY round({sq}, 6), c.cid) AS rn
        FROM {cfinal} c, qvec q) WHERE rn <= {nprobe}
    ),
    serve AS (
      SELECT a.vec_id, a.cluster AS cell,
             round({_cos_sql('a.embedding', 'q.e')}, 6) AS score
      FROM af a CROSS JOIN qvec q
      WHERE a.cluster IN (SELECT cid FROM probes)
    )
    SELECT CAST(rank AS INT) AS rank, vec_id, CAST(cell AS INT) AS cell,
           score
    FROM (SELECT serve.*,
                 row_number() OVER (ORDER BY score DESC, vec_id) AS rank
          FROM serve)
    WHERE rank <= {topk}
    """


def _probe_cells(spark, cents, qvec, nprobe: int) -> list:
    """The `nprobe` nearest frozen cells to the query — the IVF probe
    rule (`similarity._probe_order`) evaluated on the one-row codebook
    frame with the query as a literal, so the rounded-distance ordering
    uses the ENGINE's round semantics, mirroring the oracle's
    `ORDER BY round(sqdist, 6), cid` exactly (Spark HALF_UP and DuckDB
    half-away agree on non-negative distances; a Python round() would
    inject banker's rounding into the tie rule)."""
    if not cents:
        return []
    from data_pipeline2_spark.functions.vectors import query_vector_lit
    from data_pipeline2_spark.operators.similarity import (
        _cents_frame,
        _probe_order,
    )

    (row,) = (
        _cents_frame(spark, cents)
        .select(_probe_order(query_vector_lit(qvec), nprobe).alias("p"))
        .collect()
    )
    return list(row["p"])


@_register("streaming_search_e2e", _stream_search_sql())
def q_streaming_search_e2e(spark, sf_dir):
    """The third and final lifecycle composition: CONTINUOUS ingest →
    searchable. Documents replay as a 3-file stream (readStream +
    availableNow, maxFilesPerTrigger=1 → three real micro-batches) and
    each batch runs the reference's queue loop inside foreachBatch —
    sentence-chunk → hash-embed → frozen-codebook IVF cell assignment →
    append (vector included) into the cell-partitioned inverted file
    (document_processor.py:76-144's `_process_queue` →
    `_process_document` → `_chunk_document` → embed → index, composed
    through the real streaming runtime). The codebook fits ONCE on the
    batch corpus (FAISS add-after-train). Serving then runs off the
    STREAMED state only: the query embeds through the same provider,
    the `nprobe` nearest cells resolve against the frozen centroids,
    the scan prunes to those cell partitions at the file level, and
    cosine top-k ranks the probed vectors.

    The oracle replays the WHOLE path batch-side in DuckDB — chunking,
    the bit-exact embedder, the unrolled k-means trajectory, rounded
    cell assignment, probe selection, cosine ranking — so a green row
    proves the streamed index equals the batch pipeline
    vector-for-vector AND that queries serve correctly off it.

    Scale shape: chunk/embed/assign are row-local map work per batch
    (no shuffle enters the stream path; the layout append is
    partitioned by cell); the fit is the bounded k x dim trajectory;
    the serve scans only the probed cells' files. Retry-safe via
    batch_id-stamped appends collapsed by vec_id at load."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from data_pipeline2_spark.functions.vectors import cosine_to_query
    from data_pipeline2_spark.operators import embedding, similarity
    from data_pipeline2_spark.registry._core import _run_dir
    from data_pipeline2_spark.streaming import stateful

    docs = _t(spark, sf_dir, "documents")
    # batch fit: the frozen codebook over the corpus chunk vectors
    cents, _assign = similarity._kmeans_trajectory(
        stateful.document_vectors(docs, 500), 8, 2, "vec_id", "embedding"
    )
    tmp = _run_dir("streamsearch")
    feed = os.path.join(tmp, "feed")
    layout = os.path.join(tmp, "layout")
    ckpt = os.path.join(tmp, "ckpt")
    for p in range(3):
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == p).coalesce(
            1
        ).write.mode("append").parquet(feed)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    sq = stateful.ingest_documents_stream(stream, layout, ckpt, cents)
    sq.awaitTermination()
    # serve off the streamed inverted file: probe, prune, rank
    qv = serving_e2e._f32(
        embedding.hash_embed_one(serving_e2e.QUERY_TEXT, 64)
    )
    probes = _probe_cells(spark, cents, qv, 2)
    hits = stateful.load_ivf_vectors(spark, layout, cells=probes)
    scored = cosine_to_query(hits, "embedding", qv, ["vec_id", "cell"], 6)
    w = Window.orderBy(F.desc("score"), F.col("vec_id"))
    return scored.select(
        F.row_number().over(w).alias("rank"), "vec_id", "cell", "score"
    ).filter(F.col("rank") <= 10)
