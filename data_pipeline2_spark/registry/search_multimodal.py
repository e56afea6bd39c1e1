"""Registry part-module — see registry/__init__.py."""

from __future__ import annotations

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from data_pipeline2_spark.operators import (
    aggregates,
    chunking,
    dedup,
    curation,
    multimodal,
    relational,
    similarity,
    textanalysis,
)
from data_pipeline2_spark.registry._core import (
    _cos_sql,
    _register,
    _t,
)
from data_pipeline2_spark.streaming import events as ev

from data_pipeline2_spark.registry.ingest_chunk import (
    _knn_query_vec,
    _lsh_bands_cand_ctes,
    _minhash_mh_ctes,
    _python_units_sql,
)

def _hybrid_oracle_sql(budget: int = 60, overlap: int = 12) -> str:
    """DuckDB replay of token-budget greedy packing WITH overlap carry:
    per-doc token prefix sums + a recursive CTE whose state is (unit
    idx, chunk pos, chunk start); the carry start is found by counting
    prefix values below P[idx]-overlap (the longest suffix within the
    overlap budget), dropped when carrying would overflow the next
    chunk — step-for-step the chunking._greedy_pack loop."""
    return rf"""
    WITH RECURSIVE units AS MATERIALIZED (
      SELECT doc_id, idx, unit,
             len(regexp_extract_all(lower(unit),
                 '[a-z]{{1,4}}|[0-9]+|[^a-z0-9\s]')) AS t
      FROM ({_python_units_sql("documents", tail=True)})
    ), pref AS MATERIALIZED (
      SELECT doc_id, idx, unit, t,
             sum(t) OVER (PARTITION BY doc_id ORDER BY idx) AS P
      FROM units
    ), plist AS MATERIALIZED (
      SELECT doc_id, list(P ORDER BY idx) AS PL, max(idx) AS n_units
      FROM pref GROUP BY doc_id
    ), step AS (
      SELECT doc_id, 1 AS idx, 0 AS pos, 1 AS start,
             false AS flushed, 0 AS f_pos, 0 AS f_start, 0 AS f_end
      FROM pref WHERE idx = 1
      UNION ALL
      SELECT s.doc_id, n.idx,
             CASE WHEN fl.flush THEN s.pos + 1 ELSE s.pos END,
             CASE WHEN fl.flush THEN ns.new_start ELSE s.start END,
             fl.flush, s.pos, s.start, n.idx - 1
      FROM (
        SELECT s.doc_id, s.idx, s.pos, s.start, pl.PL, pl.n_units
        FROM step s JOIN plist pl ON pl.doc_id = s.doc_id
      ) s
      JOIN pref n ON n.doc_id = s.doc_id AND n.idx = s.idx + 1,
      LATERAL (
        SELECT (s.PL[s.idx] - CASE WHEN s.start = 1 THEN 0
                                   ELSE s.PL[s.start - 1] END) AS cur_tok
      ) c,
      LATERAL (SELECT (c.cur_tok + n.t > {budget}) AS flush) fl,
      LATERAL (
        SELECT CASE WHEN NOT fl.flush THEN s.start ELSE (
          CASE WHEN (
            s.PL[s.idx] - CASE WHEN jj.j0 = 1 THEN 0
                               ELSE s.PL[jj.j0 - 1] END + n.t > {budget})
          THEN n.idx ELSE jj.j0 END
        ) END AS new_start
        FROM (
          SELECT s.start + len(list_filter(
                   list_slice(list_prepend(CAST(0 AS HUGEINT), s.PL),
                              s.start, s.idx),
                   p -> p < s.PL[s.idx] - {overlap})) AS j0
        ) jj
      ) ns
    ), chunks AS (
      SELECT doc_id, f_pos AS pos, f_start AS s, f_end AS e
      FROM step WHERE flushed
      UNION ALL
      SELECT st.doc_id, st.pos, st.start, st.idx
      FROM step st JOIN plist pl
        ON pl.doc_id = st.doc_id AND st.idx = pl.n_units
    )
    SELECT c.doc_id, CAST(c.pos AS INT) AS pos,
           c.doc_id || '-' || c.pos AS chunk_id,
           string_agg(u.unit, ' ' ORDER BY u.idx) AS content,
           CAST(sum(u.t) AS INT) AS n_tokens
    FROM chunks c JOIN pref u
      ON u.doc_id = c.doc_id AND u.idx BETWEEN c.s AND c.e
    GROUP BY c.doc_id, c.pos
    """


@_register("chunk_hybrid", _hybrid_oracle_sql(60, 12))
def q_chunk_hybrid(spark, sf_dir):
    """Token budget 60 / overlap 12 (not the reference's 500/50
    character defaults): small enough that the testdata actually
    exercises the flush and carry paths the oracle replays — at 500
    tokens nearly every document packs into a single chunk and the
    stateful loop goes untested."""
    return chunking.chunk_hybrid(_t(spark, sf_dir, "documents"), 60, 12)


# (knn_batch_ivf moved to registry/vector_partsupp.py in round 6: the
# exported key now uses the deterministic distributed fit so it is
# oracle-able; the numpy sampled-fit operator stays library-only.)


def _lsh_oracle_sql() -> str:
    """DuckDB replay of the hyperplane-LSH kNN: the deterministic LCG
    planes are inlined as double literals, signatures recomputed
    bit-for-bit, and only sig-colliding pairs are scored — a bucketing
    bug on either side becomes a value mismatch."""
    planes = similarity._hyperplanes(64, 6, 42)
    plits = "[" + ", ".join(
        "[" + ", ".join(repr(v) for v in p) + "]" for p in planes
    ) + "]"
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding,
        list_aggregate(list_transform(generate_series(1, 6),
          p -> CASE WHEN list_aggregate(list_transform(generate_series(1, 64),
                 i -> embedding[i]::DOUBLE * ({plits})[p][i]), 'sum') >= 0
               THEN '1' ELSE '0' END), 'string_agg', '') AS sig
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, embedding AS qv, sig FROM sigs WHERE vec_id < 5
    ), s AS (
      SELECT q.qid, e.vec_id,
             round({_cos_sql('e.embedding', 'q.qv')}, 6) AS score
      FROM sigs e JOIN q ON e.sig = q.sig
    ), r AS (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id)
               AS rank
      FROM s)
    SELECT qid, CAST(rank AS INT) AS rank, vec_id, score
    FROM r WHERE rank <= 3
    """


@_register("knn_batch_lsh", _lsh_oracle_sql())
def q_knn_batch_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.knn_batch_lsh(emb, queries, k=3, dim=64, n_planes=6)


def _simhash_sql(where: str = "doc_id < 100 AND len(trim(text, ' ')) > 0") -> str:
    """DuckDB replay of dedup.simhash64: md5 halves via hex-literal cast
    (DuckDB has no conv()), per-bit +/-1 sums, sign bits assembled into
    a signed 64-bit fingerprint (bit 63 folded in as two's complement).

    `where` scopes the documents scan — the simhash key pins doc_id <
    100; the simhash_pairs key (registry/curation_r8b.py) runs the
    full table so the pair join sees every near-dup cluster."""
    bit_sums = ",\n      ".join(
        f"sum(CASE WHEN (({'h_lo' if b < 32 else 'h_hi'} >> {b % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(64)
    )
    terms = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {'(1::BIGINT << ' + str(b) + ')' if b < 63 else '(-9223372036854775807 - 1)::BIGINT'} ELSE 0::BIGINT END)"
        for b in range(64)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text), ' '), '\\s+')) AS tok
      FROM documents WHERE {where}
    ),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_lo,
             ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_hi
      FROM toks
    ),
    s AS (
      SELECT doc_id,
      {bit_sums}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM s
    """


@_register("simhash", _simhash_sql())
def q_simhash(spark, sf_dir):
    """Scope pinned by predicate (doc_id < 100), not limit(): limit
    without an order is scan-order-dependent and not oracle-safe."""
    return dedup.simhash64(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )


@_register(
    "docling_convert",
    """
    SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
             WHEN 1 THEN 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet'
             WHEN 2 THEN 'application/vnd.openxmlformats-officedocument.presentationml.presentation'
             WHEN 3 THEN 'application/pdf'
             ELSE 'text/html' END AS content_type,
           CASE doc_id % 5
             WHEN 0 THEN '# Document ' || doc_id || chr(10) || chr(10)
               || 'Body text for document ' || doc_id || '.' || chr(10) || chr(10)
               || '| key | value |' || chr(10) || '| --- | --- |' || chr(10)
               || '| id | ' || doc_id || ' |'
             WHEN 1 THEN '## Data' || chr(10) || chr(10)
               || '| metric | value |' || chr(10) || '| --- | --- |' || chr(10)
               || '| doc | ' || doc_id || ' |'
             WHEN 2 THEN '## Slide 1' || chr(10) || chr(10) || 'Deck ' || doc_id
               || chr(10) || chr(10) || '## Slide 2' || chr(10) || chr(10)
               || 'Summary ' || doc_id
             WHEN 3 THEN 'PDF body ' || doc_id
             ELSE '# Page ' || doc_id || chr(10) || chr(10)
               || 'Paragraph for page ' || doc_id || '.' || chr(10) || chr(10)
               || '- alpha ' || doc_id || chr(10) || '- beta ' || doc_id
           END AS text
    FROM documents WHERE doc_id < 200
    """,
)
def q_docling_convert(spark, sf_dir):
    """REAL binary-format conversion, fully value-checked: actual
    DOCX/XLSX/PPTX container bytes (zip+XML), a real FlateDecode PDF and
    HTML are generated per id, converted to markdown by the pure-stdlib
    parsers (functions/docformats), and the oracle rebuilds the exact
    markdown each container implies — a parser bug anywhere in the
    zip/XML/PDF walk becomes a value mismatch. Reference seam:
    DoclingService.convert, docling_service.py:188-206."""
    from data_pipeline2_spark.operators import convert as conv

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ingested = conv.fixture_binary_documents(docs)
    return conv.convert_documents(ingested).select(
        "doc_id", "content_type", "text"
    )


@_register(
    "multimodal_decode",
    """
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 5 = 4 THEN 'audio' ELSE 'image' END AS modality,
           CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg' ELSE 'wav' END AS format,
           CASE WHEN doc_id % 5 <> 4
                THEN CAST(16 + doc_id % 97 AS INT) END AS width,
           CASE WHEN doc_id % 5 <> 4
                THEN CAST(16 + doc_id % 53 AS INT) END AS height,
           CASE doc_id % 5 WHEN 0 THEN 'RGB' WHEN 1 THEN 'P'
                WHEN 2 THEN 'RGB' WHEN 3 THEN 'YCbCr' END AS mode,
           CASE WHEN doc_id % 5 = 4
                THEN CAST(500 + (doc_id % 41) * 250 AS INT) END AS duration_ms
    FROM documents
    """,
)
def q_multimodal_decode(spark, sf_dir):
    """REAL codec path, fully value-checked: real_assets writes actual
    PNG/GIF/BMP/JPEG/WAV container bytes (dims/duration a pure function
    of the id), decode_assets(fake=False) re-parses the headers byte-
    exactly (functions/imagecodec), and the oracle recomputes what the
    generator embedded — a header-parser bug becomes a value mismatch."""
    assets = multimodal.real_assets(_t(spark, sf_dir, "documents"))
    return multimodal.decode_assets(assets, fake=False).select(
        "asset_id", "modality", "format", "width", "height", "mode",
        "duration_ms",
    )


@_register(
    "multimodal_resize_real",
    """
    WITH dims AS (
      SELECT doc_id AS asset_id,
             CAST(16 + doc_id % 97 AS INT) AS w,
             CAST(16 + doc_id % 53 AS INT) AS h
      FROM documents WHERE doc_id % 5 = 0
    ), scaled AS (
      SELECT asset_id, w, h,
             CASE WHEN greatest(w, h) <= 64 THEN 1.0
                  ELSE 64.0 / greatest(w, h) END AS s
      FROM dims
    )
    SELECT asset_id,
           CAST(greatest(trunc(w * s), 1) AS INT) AS target_w,
           CAST(greatest(trunc(h * s), 1) AS INT) AS target_h,
           CAST(greatest(trunc(w * s), 1) AS INT) AS dec_w,
           CAST(greatest(trunc(h * s), 1) AS INT) AS dec_h
    FROM scaled WHERE s < 1
    """,
)
def q_multimodal_resize_real(spark, sf_dir):
    """Real pixel work, verified end-to-end: PNG fixtures are decoded,
    nearest-resampled and re-ENCODED (imagecodec), then the output
    payloads are re-probed — dec_w/dec_h come from the resized bytes
    themselves, so the whole decode→resize→encode loop must be correct
    for the driver hash to match the oracle's closed-form targets."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    assets = multimodal.real_assets(docs)
    resized = multimodal.resize_assets(assets, max_dim=64, fake=False)
    redecoded = multimodal.decode_assets(
        resized.select(
            "asset_id", F.lit("image").alias("modality"), "payload"
        ),
        fake=False,
    )
    return resized.select("asset_id", "target_w", "target_h").join(
        redecoded.select(
            "asset_id",
            F.col("width").alias("dec_w"),
            F.col("height").alias("dec_h"),
        ),
        "asset_id",
    )


@_register(
    "frame_sample_plan",
    """
    WITH probe AS (
      -- coalesce: the engine probe reads `bytes(raw or b"")`, so a
      -- NULL payload probes as the EMPTY payload, not as NULL
      SELECT doc_id AS asset_id,
             1000 + ((
                  (strpos('0123456789abcdef', substr(sha256(coalesce(text, '')), 5, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(sha256(coalesce(text, '')), 6, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(sha256(coalesce(text, '')), 7, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(sha256(coalesce(text, '')), 8, 1)) - 1)
             ) % 60000) AS dur
      FROM documents WHERE doc_id < 60 AND doc_id % 3 = 2
    )
    SELECT asset_id, CAST(f AS INT) AS frame_no,
           CAST(f * 5000 AS BIGINT) AS ts_ms
    FROM (SELECT asset_id,
                 unnest(generate_series(0,
                    greatest(CAST(trunc(dur / 5000.0) AS INT), 1) - 1)) AS f
          FROM probe)
    """,
)
def q_frame_sample_plan(spark, sf_dir):
    """Frame-sampling plan value-checked: the oracle replays the
    sha-derived fake probe duration (same hex arithmetic as the resize
    oracles) and the per-asset frame grid."""
    assets = multimodal.documents_as_assets(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    )
    return multimodal.frame_sample_plan(assets, every_ms=5000)


# The fake probe's dims are sha256-derived, so the oracle replays them in
# SQL: hex→int via positional strpos over the digest prefix. Shared by
# the resize plan/execute oracles.
_RESIZE_DIMS_SQL = """
    WITH probe AS (
      -- coalesce(text,''): the engine probe reads `bytes(raw or b"")`
      SELECT doc_id AS asset_id, coalesce(text, '') AS text,
             CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS nb,
             sha256(coalesce(text, '')) AS sha
      FROM documents WHERE doc_id % 3 = 0
    ), dims AS (
      SELECT asset_id, text,
             CAST(16 + (nb % 1024) AS INT) AS width,
             CAST(16 + ((
                  (strpos('0123456789abcdef', substr(sha, 1, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(sha, 2, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(sha, 3, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(sha, 4, 1)) - 1)
             ) % 1024) AS INT) AS height
      FROM probe
    ), scaled AS (
      SELECT asset_id, text, width, height,
             CASE WHEN greatest(width, height) <= 256 THEN CAST(1 AS DOUBLE)
                  ELSE CAST(256 AS DOUBLE) / greatest(width, height) END AS s
      FROM dims
    )
"""


@_register(
    "multimodal_resize_plan",
    _RESIZE_DIMS_SQL
    + """
    SELECT asset_id, width, height,
           CAST(greatest(trunc(width * s), 1) AS INT) AS target_w,
           CAST(greatest(trunc(height * s), 1) AS INT) AS target_h,
           round(s, 6) AS scale
    FROM scaled
    """,
)
def q_multimodal_resize_plan(spark, sf_dir):
    assets = multimodal.documents_as_assets(_t(spark, sf_dir, "documents"))
    return multimodal.resize_plan(assets, max_dim=256)


@_register(
    "multimodal_resize",
    _RESIZE_DIMS_SQL
    + """
    SELECT asset_id,
           CAST(greatest(trunc(width * s), 1) AS INT) AS target_w,
           CAST(greatest(trunc(height * s), 1) AS INT) AS target_h,
           sha256(text || '|'
                  || CAST(CAST(greatest(trunc(width * s), 1) AS INT) AS VARCHAR)
                  || 'x'
                  || CAST(CAST(greatest(trunc(height * s), 1) AS INT) AS VARCHAR)
           ) AS payload_hex
    FROM scaled WHERE s < 1
    """,
)
def q_multimodal_resize(spark, sf_dir):
    """Stubbed pixel work is still fully value-checked: the fake resized
    payload is a sha256 digest, compared as lowercase hex (DuckDB sha256
    is VARCHAR-only, so the oracle hashes the same text+geometry string)."""
    assets = multimodal.documents_as_assets(_t(spark, sf_dir, "documents"))
    return multimodal.resize_assets(assets, max_dim=256, fake=True).select(
        "asset_id",
        "target_w",
        "target_h",
        F.lower(F.hex(F.col("payload"))).alias("payload_hex"),
    )


@_register(
    "multimodal_features",
    """
    SELECT doc_id AS asset_id,
           list_extract(['image','audio','video'],
                        CAST((doc_id % 3) + 1 AS INT)) AS modality,
           CAST(64 AS INT) AS dim,
           true AS unit_norm_ok
    FROM documents
    """,
)
def q_multimodal_features(spark, sf_dir):
    """Feature extraction seam, driver-checkable: the raw array<float>
    vector crashes pandas canonicalizers (unhashable list), so the
    driver row carries SCALAR invariants — per-asset dimension and the
    unit-norm contract (|l2²−1| < 1e-3, float32 tolerance) — which the
    oracle reproduces structurally. Exact vector values + determinism
    stay pytest-covered (tests/test_dedup_similarity.py); the vector
    API itself is multimodal.extract_features."""
    assets = multimodal.documents_as_assets(_t(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(assets, dim=64, fake=True)
    sq = F.aggregate(
        "feature",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return feats.select(
        "asset_id",
        "modality",
        F.size("feature").alias("dim"),
        (F.abs(sq - F.lit(1.0)) < F.lit(1e-3)).alias("unit_norm_ok"),
    )



# ============================================== BM25 / hybrid retrieval
# (ES `match` = Lucene BM25; hybrid = ES RRF rank fusion) + centroids

_BM25_TERMS = ["dup", "vector", "spark"]  # rare + common terms (df 25/382/385)


from data_pipeline2_spark.operators.textanalysis import bm25_oracle_sql as _bm25_sql  # noqa: E402


@_register("fulltext_bm25", _bm25_sql(_BM25_TERMS, k=10))
def q_fulltext_bm25(spark, sf_dir):
    return textanalysis.bm25_search(
        _t(spark, sf_dir, "documents"), _BM25_TERMS, k=10
    )


@_register("fulltext_bm25_indexed", _bm25_sql(_BM25_TERMS, k=10))
def q_fulltext_bm25_indexed(spark, sf_dir):
    """Same query through the materialized inverted index — identical
    oracle because the output contract is bit-identical to the scan
    path (shared scoring expression, same fixed-order summation)."""
    idx = textanalysis.build_text_index(_t(spark, sf_dir, "documents"))
    return textanalysis.bm25_search_indexed(idx, _BM25_TERMS, k=10)


def _rrf_oracle_sql() -> str:
    bm = _bm25_sql(_BM25_TERMS, k=50)
    return f"""
    WITH bm25 AS ({bm}),
    bm_r AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS bm25_rank
      FROM bm25
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vec AS (
      SELECT e.vec_id AS doc_id, round({_cos_sql('e.embedding', 'q.qv')}, 6) AS score
      FROM embeddings e, q ORDER BY score DESC, doc_id LIMIT 50
    ),
    vec_r AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS vec_rank
      FROM vec
    ),
    fused AS (
      SELECT coalesce(bm_r.doc_id, vec_r.doc_id) AS doc_id,
             bm_r.bm25_rank, vec_r.vec_rank,
             round(coalesce(1.0 / (60.0 + bm_r.bm25_rank), 0.0)
                   + coalesce(1.0 / (60.0 + vec_r.vec_rank), 0.0), 6) AS rrf_score
      FROM bm_r FULL OUTER JOIN vec_r ON bm_r.doc_id = vec_r.doc_id
    )
    SELECT doc_id, bm25_rank, vec_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


@_register("hybrid_search_rrf", _rrf_oracle_sql())
def q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval works because vec_id aligns 1:1 with doc_id in
    the testdata (both 0..N-1); the vector leg reuses knn's query vec."""
    return similarity.hybrid_search_rrf(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        _BM25_TERMS,
        _knn_query_vec(spark, sf_dir),
        k=10,
    )


@_register(
    "label_centroids",
    """
    SELECT label, CAST(i - 1 AS INT) AS pos, count(*) AS n,
           round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(25,10))) AS DOUBLE)
                 / count(*), 6) AS centroid_v
    FROM embeddings, generate_series(1, 64) t(i)
    GROUP BY label, i
    """,
)
def q_label_centroids(spark, sf_dir):
    return similarity.label_centroids(_t(spark, sf_dir, "embeddings"))



_CENTROID_SQL = """
    SELECT label, CAST(i - 1 AS INT) AS pos,
           round(CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(25,10))) AS DOUBLE)
                 / count(*), 6) AS centroid_v
    FROM embeddings, generate_series(1, 64) t(i)
    GROUP BY label, i
"""


@_register(
    "centroid_assign",
    f"""
    WITH cent AS ({_CENTROID_SQL}),
    carr AS (
      SELECT label AS pred_label, list(centroid_v ORDER BY pos) AS cvec
      FROM cent GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.pred_label,
             round({_cos_sql('e.embedding', 'c.cvec')}, 6) AS score
      FROM embeddings e CROSS JOIN carr c
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY score DESC, pred_label) AS rn
      FROM scored
    )
    SELECT label, pred_label, count(*) AS n
    FROM best WHERE rn = 1 GROUP BY label, pred_label
    ORDER BY label, pred_label
    """,
)
def q_centroid_assign(spark, sf_dir):
    return similarity.centroid_assign(_t(spark, sf_dir, "embeddings"))


@_register(
    "events_zscore_outliers",
    """
    WITH stats AS (
      SELECT event_type, count(value) AS _n,
             CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS _s,
             CAST(sum(CAST(value * value AS DECIMAL(25,4))) AS DOUBLE) AS _ssq
      FROM events GROUP BY event_type
    ), ms AS (
      SELECT event_type, _s / _n AS _mean,
             sqrt(CASE WHEN _n > 1
                       THEN (_ssq - _s * _s / _n) / (_n - 1) END) AS _sd
      FROM stats
    )
    SELECT event_id, e.event_type, value,
           round(CASE WHEN _sd > 0 THEN (value - _mean) / _sd END, 4) AS z
    FROM events e JOIN ms ON e.event_type = ms.event_type
    WHERE abs(round(CASE WHEN _sd > 0 THEN (value - _mean) / _sd END, 4)) > 3.0
    """,
)
def q_events_zscore_outliers(spark, sf_dir):
    return aggregates.zscore_outliers(
        _t(spark, sf_dir, "events"),
        "value",
        ["event_type"],
        ["event_id"],
        threshold=3.0,
    )



@_register(
    "dedup_representative",
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
    ), clusters AS (
      SELECT node AS doc_id, min(label) AS cid FROM reach GROUP BY node
    ), joined AS (
      SELECT d.doc_id, coalesce(c.cid, d.doc_id) AS cluster_id, d.n_chars
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    ), ranked AS (
      SELECT doc_id, cluster_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY -n_chars, doc_id) AS rn
      FROM joined
    )
    SELECT doc_id, cluster_id, rn = 1 AS is_representative FROM ranked
    """,
)
def q_dedup_representative(spark, sf_dir):
    """Keep-longest-copy representative over the same deterministic
    chain clusters as `dedup_clusters` (synthetic (doc, doc+1) edges)."""
    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    pairs = (
        docs.filter(F.col("doc_id") % 7 < 2)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + 1).alias("doc_b"),
        )
        .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    )
    clusters = dedup.dedup_clusters(pairs).withColumnRenamed("cluster_id", "cluster_id")
    return dedup.dedup_representative(
        docs, clusters, rank_cols=[-F.col("n_chars")]
    )



@_register(
    "equi_depth_histogram",
    """
    SELECT CAST(bucket AS INT) AS bucket, count(*) AS n,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    ) GROUP BY bucket ORDER BY bucket
    """,
)
def q_equi_depth_histogram(spark, sf_dir):
    return aggregates.equi_depth_histogram(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        n_buckets=10,
        tiebreak_cols=["o_orderkey"],
    )



@_register(
    "heavy_hitters",
    """
    WITH toks AS (
      SELECT unnest(CASE WHEN len(trim(text, ' ')) = 0 THEN []
                         ELSE regexp_split_to_array(lower(trim(text, ' ')), '\\s+') END) AS term
      FROM documents
    ), counts AS (
      SELECT term, count(*) AS occurrences FROM toks GROUP BY term
    )
    SELECT term, occurrences, CAST(row_number() OVER (
             ORDER BY occurrences DESC, term) AS INT) AS rank
    FROM counts ORDER BY occurrences DESC, term LIMIT 10
    """,
)
def q_heavy_hitters(spark, sf_dir):
    return textanalysis.heavy_hitters(_t(spark, sf_dir, "documents"), k=10)



@_register(
    "phrase_match",
    """
    SELECT doc_id, lang FROM documents
    WHERE ' ' || array_to_string(
            CASE WHEN len(trim(text, ' ')) = 0 THEN []
                 ELSE regexp_split_to_array(lower(trim(text, ' ')), '\\s+') END, ' ')
          || ' ' LIKE '% spark join %'
    """,
)
def q_phrase_match(spark, sf_dir):
    """ES match_phrase analog: consecutive word-boundary tokens."""
    docs = _t(spark, sf_dir, "documents")
    return relational.phrase_match(docs, "text", "spark join").select(
        "doc_id", "lang"
    )


@_register(
    "grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS through the SQL surface (the DataFrame API covers
    rollup/cube; arbitrary set lists are SQL-only) over the loader's
    registered views — proving spark.sql is a first-class entry point."""
    from data_pipeline2_spark.sources.parquet import load_table

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__gs_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS cnt,
               CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )



@_register(
    "phrase_match_indexed",
    """
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN len(trim(text, ' ')) = 0 THEN []
                  ELSE regexp_split_to_array(lower(trim(text, ' ')), '\\s+') END AS t
      FROM documents
    ), flat AS (
      SELECT doc_id, unnest(t) AS term,
             unnest(generate_series(1, len(t))) AS p
      FROM docs
    ), p0 AS (
      SELECT doc_id, list(p) AS lp FROM flat WHERE term = 'spark' GROUP BY doc_id
    ), p1 AS (
      SELECT doc_id, list(p - 1) AS lp FROM flat WHERE term = 'join' GROUP BY doc_id
    )
    SELECT p0.doc_id, CAST(len(list_intersect(p0.lp, p1.lp)) AS INT) AS n_matches
    FROM p0 JOIN p1 USING (doc_id)
    WHERE len(list_intersect(p0.lp, p1.lp)) > 0
    """,
)
def q_phrase_match_indexed(spark, sf_dir):
    idx = textanalysis.build_positional_index(_t(spark, sf_dir, "documents"))
    return textanalysis.phrase_match_indexed(idx, "spark join")



@_register(
    "decontaminate_semantic",
    f"""
    WITH ev AS (
      SELECT vec_id AS eid, embedding AS evec FROM embeddings WHERE vec_id < 50
    ), corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 50
    ), scored AS (
      SELECT c.vec_id, e.eid,
             round({_cos_sql('c.embedding', 'e.evec')}, 6) AS sim
      FROM corpus c CROSS JOIN ev e
    ), best AS (
      SELECT vec_id, max(sim) AS max_sim FROM scored GROUP BY vec_id
    ), near AS (
      SELECT s.vec_id, min(s.eid) AS nearest_eval_id
      FROM scored s JOIN best b ON s.vec_id = b.vec_id AND s.sim = b.max_sim
      GROUP BY s.vec_id
    )
    SELECT b.vec_id, b.max_sim, n.nearest_eval_id,
           b.max_sim >= 0.35 AS contaminated
    FROM best b JOIN near n USING (vec_id)
    """,
)
def q_decontaminate_semantic(spark, sf_dir):
    """Eval set = vec_id < 50 of the same embedding table; threshold in
    the real cosine tail of the synthetic vectors (max intra-label
    ~0.47), so the flag splits non-trivially at every SF."""
    emb = _t(spark, sf_dir, "embeddings")
    return curation.decontaminate_semantic(
        emb.filter(F.col("vec_id") >= 50),
        emb.filter(F.col("vec_id") < 50),
        threshold=0.35,
    )



@_register(
    "dedup_near_incremental",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
      FROM documents WHERE len(trim(text, ' ')) > 0
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
            FROM toks WHERE len(ws) >= 3)
    ), {_minhash_mh_ctes()},
    {_lsh_bands_cand_ctes("WHERE a.doc_id >= 400 OR b.doc_id >= 400")},
    est AS (
      SELECT c.doc_a, c.doc_b,
             round(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 16.0, 6)
               AS est_jaccard
      FROM cand c
      JOIN mh ma ON ma.doc_id = c.doc_a
      JOIN mh mb ON mb.doc_id = c.doc_b AND mb.p = ma.p
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
    """,
)
def q_dedup_near_incremental(spark, sf_dir):
    """New batch = doc_id >= 400 arriving against the signature store of
    doc_id < 400 (store built once, batch-side here)."""
    docs = _t(spark, sf_dir, "documents")
    old_sigs = dedup.minhash_signature_cols(
        dedup.doc_shingles(
            docs.filter(F.col("doc_id") < 400), 3, distinct=False
        )
    )
    return dedup.dedup_near_incremental_minhash(
        docs.filter(F.col("doc_id") >= 400), old_sigs, threshold=0.5
    )



@_register(
    "near_match",
    """
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN len(trim(text, ' ')) = 0 THEN []
                  ELSE regexp_split_to_array(lower(trim(text, ' ')), '\\s+') END AS t
      FROM documents
    ), flat AS (
      SELECT doc_id, unnest(t) AS term,
             unnest(generate_series(1, len(t))) AS p
      FROM docs
    ), pa AS (
      SELECT doc_id, list(p) AS lp FROM flat WHERE term = 'dup' GROUP BY doc_id
    ), pb AS (
      SELECT doc_id, list(p) AS lp FROM flat WHERE term = 'spark' GROUP BY doc_id
    )
    SELECT pa.doc_id,
           CAST(len(list_filter(pa.lp,
                p -> len(list_filter(pb.lp,
                     q -> abs(q - p) <= 3 AND q != p)) > 0)) AS INT) AS n_pairs
    FROM pa JOIN pb USING (doc_id)
    WHERE len(list_filter(pa.lp,
          p -> len(list_filter(pb.lp,
               q -> abs(q - p) <= 3 AND q != p)) > 0)) > 0
    """,
)
def q_near_match(spark, sf_dir):
    idx = textanalysis.build_positional_index(_t(spark, sf_dir, "documents"))
    return textanalysis.near_match(idx, "dup", "spark", slop=3)



@_register(
    "events_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS _med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, quantile_cont(abs(value - _med), 0.5) AS _mad
      FROM events e JOIN med USING (event_type) GROUP BY e.event_type
    )
    SELECT event_id, e.event_type, value,
           round(CASE WHEN _mad > 0
                      THEN 0.6745 * (value - _med) / _mad END, 4) AS robust_z
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    WHERE abs(round(CASE WHEN _mad > 0
                         THEN 0.6745 * (value - _med) / _mad END, 4)) > 3.5
    """,
)
def q_events_mad_outliers(spark, sf_dir):
    return aggregates.mad_outliers(
        _t(spark, sf_dir, "events"),
        "value",
        ["event_type"],
        ["event_id"],
        threshold=3.5,
    )



@_register(
    "events_trending_topk",
    """
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, CAST(rank AS INT) AS rank, event_type, total
    FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY total DESC, event_type) AS rank
      FROM agg
    ) WHERE rank <= 3
    """,
)
def q_events_trending_topk(spark, sf_dir):
    return ev.trending_topk(_t(spark, sf_dir, "events"), k=3)



def _linear_fusion_sql() -> str:
    bm = _bm25_sql(_BM25_TERMS, k=50)
    return f"""
    WITH bm25 AS ({bm}),
    bmb AS (SELECT min(score) lo, max(score) hi FROM bm25),
    bmn AS (
      SELECT doc_id, CASE WHEN hi > lo THEN (score - lo) / (hi - lo)
                          ELSE 1.0 END AS lex_norm
      FROM bm25, bmb
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vec AS (
      SELECT e.vec_id AS doc_id, round({_cos_sql('e.embedding', 'q.qv')}, 6) AS score
      FROM embeddings e, q ORDER BY score DESC, doc_id LIMIT 50
    ),
    vb AS (SELECT min(score) lo, max(score) hi FROM vec),
    vn AS (
      SELECT doc_id, CASE WHEN hi > lo THEN (score - lo) / (hi - lo)
                          ELSE 1.0 END AS vec_norm
      FROM vec, vb
    )
    SELECT coalesce(bmn.doc_id, vn.doc_id) AS doc_id,
           round(0.5 * coalesce(lex_norm, 0.0)
                 + 0.5 * coalesce(vec_norm, 0.0), 6) AS fused_score
    FROM bmn FULL OUTER JOIN vn ON bmn.doc_id = vn.doc_id
    ORDER BY fused_score DESC, doc_id LIMIT 10
    """


@_register("hybrid_search_linear", _linear_fusion_sql())
def q_hybrid_search_linear(spark, sf_dir):
    return similarity.hybrid_search_linear(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        _BM25_TERMS,
        _knn_query_vec(spark, sf_dir),
        k=10,
        w_lex=0.5,
    )


