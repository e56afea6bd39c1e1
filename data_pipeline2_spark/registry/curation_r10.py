"""Registry part-module, round 10 — see registry/__init__.py.

- `training_pipeline_e2e`: the composed flagship pipeline (quality →
  decontaminate → exact dedup → near dedup → chunk → pack/split →
  expectation gate) as ONE oracled census key (VERDICT r9 item 2). The
  oracle replays every stage as MATERIALIZED CTEs reusing the SAME
  fragment builders the member keys' oracles use (quality SQL, the
  minhash shd/mh/bands/cand/verify chain, the recursive-CC pattern
  from simhash_dedup_drop, the chunk_sentence buckets), so a green
  row value-checks the COMPOSITION — inter-stage row accounting
  included — not just each operator solo.
- `ivf_index_stream`: continuous ANN-index maintenance through the real
  streaming runtime (VERDICT r9 item 8's named gap) — frozen-codebook
  IVF cell assignment per micro-batch via foreachBatch into the
  cell-partitioned persisted layout, value-oracled against the
  unrolled k-means trajectory (_kmeans_cte_parts). Completes the
  continuous-indexing story the BM25 postings sink started.
- `dedup_bbit_minhash`: b-bit minwise hashing (Li & König 2010, b=1)
  with the exact Jaccard shipped per candidate pair — the 64x-smaller
  signature store's estimator, value-checked against truth (the
  sketch-plus-verify pattern cms_frequency_eval/lsh_eval established).
"""

from __future__ import annotations

from data_pipeline2_spark.operators import dedup, pipeline_e2e
from data_pipeline2_spark.operators.sampling import _threshold
from data_pipeline2_spark.registry._core import _register, _t
from data_pipeline2_spark.registry.ingest_chunk import (
    _jaccard_verify_ctes,
    _lsh_bands_cand_ctes,
    _minhash_mh_ctes,
    _sentence_chunks_sql,
)
from data_pipeline2_spark.registry.text_sampling import _QUALITY_SQL


def _e2e_sql(
    quality_min: float = 0.5,
    eval_n: int = 20,
    near_threshold: float = 0.6,
    chunk_chars: int = 400,
    train_pct: int = 90,
    val_pct: int = 5,
    seq_tokens: int = 512,
    split_salt: str = "e2e",
    n_checks: int = pipeline_e2e.N_GATE_CHECKS,
) -> str:
    t1 = _threshold(train_pct)
    t2 = _threshold(train_pct + val_pct)
    hp = f"substring(md5(concat_ws('|', '{split_salt}', doc_id::VARCHAR)), 1, 2)"
    return f"""
    WITH RECURSIVE
    q AS MATERIALIZED ({_QUALITY_SQL}),
    s2 AS MATERIALIZED (
      SELECT * FROM documents
      WHERE doc_id IN (SELECT doc_id FROM q WHERE quality >= {quality_min})
    ),
    ev AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id FROM s2 ORDER BY doc_id LIMIT {eval_n})
    ),
    dtoks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS t
      FROM s2 WHERE len(trim(text, ' ')) > 0
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, len(t) - 4),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
             || ' ' || t[i+4])) AS g
      FROM dtoks WHERE len(t) >= 5
    ),
    eg AS MATERIALIZED (
      SELECT DISTINCT g FROM grams WHERE doc_id IN (SELECT doc_id FROM ev)
    ),
    cg AS (
      SELECT DISTINCT doc_id, g FROM grams
      WHERE doc_id NOT IN (SELECT doc_id FROM ev)
    ),
    contam AS MATERIALIZED (
      SELECT cg.doc_id
      FROM cg LEFT JOIN eg ON cg.g = eg.g
      GROUP BY cg.doc_id
      HAVING (count(eg.g) / CAST(count(*) AS DOUBLE)) >= 0.1
    ),
    s3 AS MATERIALIZED (
      SELECT * FROM s2
      WHERE doc_id NOT IN (SELECT doc_id FROM ev)
        AND doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    keepx AS (
      SELECT min(doc_id) AS doc_id FROM s3
      GROUP BY sha256(lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g')))
    ),
    s4 AS MATERIALIZED (
      SELECT * FROM s3 WHERE doc_id IN (SELECT doc_id FROM keepx)
    ),
    mtoks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
      FROM s4 WHERE len(trim(text, ' ')) > 0
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
            FROM mtoks WHERE len(ws) >= 3)
    ),
    {_minhash_mh_ctes()}, {_lsh_bands_cand_ctes()},
    {_jaccard_verify_ctes(near_threshold)},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ),
    clusters AS MATERIALIZED (
      SELECT node AS doc_id, min(label) AS cid FROM reach GROUP BY node
    ),
    s5 AS MATERIALIZED (
      SELECT * FROM s4
      WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE cid <> doc_id)
    ),
    chunkn AS (
      SELECT count(*) AS c FROM ({_sentence_chunks_sql("s5", chunk_chars)})
    ),
    sized AS (
      SELECT doc_id,
             CAST(ceil(max(n_chars) / 4.0) AS BIGINT) AS est,
             CASE WHEN {hp} < '{t1}' THEN 'train'
                  WHEN {hp} < '{t2}' THEN 'val'
                  ELSE 'test' END AS split
      FROM s5 GROUP BY doc_id
    ),
    seqs AS MATERIALIZED (
      SELECT split, doc_id, est,
             CAST(floor((sum(est) OVER (PARTITION BY split ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - 1) / {seq_tokens}.0)
                  AS INT) AS seq_id
      FROM sized
    ),
    nseq AS (
      SELECT count(*) AS c FROM (SELECT DISTINCT split, seq_id FROM seqs)
    ),
    gate AS (
      SELECT CAST(
          (CASE WHEN count(*) - count(CASE WHEN doc_id IS NOT NULL
                                           THEN 1 END) = 0
                THEN 1 ELSE 0 END)
        + (CASE WHEN count(*) - count(DISTINCT doc_id) = 0
                THEN 1 ELSE 0 END)
        + (CASE WHEN count(*) - count(CASE WHEN split IN
                   ('train', 'val', 'test') THEN 1 END) = 0
                THEN 1 ELSE 0 END)
        + (CASE WHEN count(*) - count(CASE WHEN est BETWEEN 0
                   AND 10000000 THEN 1 END) = 0
                THEN 1 ELSE 0 END)
        + (CASE WHEN count(*) BETWEEN 1 AND 1000000000000
                THEN 1 ELSE 0 END) AS BIGINT) AS passed
      FROM seqs
    ),
    c1 AS (SELECT count(*)::BIGINT AS c FROM documents),
    c2 AS (SELECT count(*)::BIGINT AS c FROM s2),
    c3 AS (SELECT count(*)::BIGINT AS c FROM s3),
    c4 AS (SELECT count(*)::BIGINT AS c FROM s4),
    c5 AS (SELECT count(*)::BIGINT AS c FROM s5)
    SELECT CAST(1 AS INT) AS stage_idx, 'ingest' AS stage,
           c1.c AS rows_in, c1.c AS rows_out FROM c1
    UNION ALL SELECT 2, 'quality_filter', c1.c, c2.c FROM c1, c2
    UNION ALL SELECT 3, 'decontaminate', c2.c, c3.c FROM c2, c3
    UNION ALL SELECT 4, 'dedup_exact', c3.c, c4.c FROM c3, c4
    UNION ALL SELECT 5, 'dedup_near', c4.c, c5.c FROM c4, c5
    UNION ALL SELECT 6, 'chunk', c5.c, chunkn.c::BIGINT FROM c5, chunkn
    UNION ALL SELECT 7, 'pack_split', c5.c, nseq.c::BIGINT FROM c5, nseq
    UNION ALL SELECT 8, 'expect_gate', CAST({n_checks} AS BIGINT),
                     gate.passed FROM gate
    """


def _bbit_minhash_sql(n_perm: int = 16) -> str:
    from data_pipeline2_spark.registry.ingest_chunk import (
        _jaccard_verify_ctes as _jv,
    )
    from data_pipeline2_spark.registry.ingest_chunk import (
        _lsh_bands_cand_ctes as _lb,
    )
    from data_pipeline2_spark.registry.ingest_chunk import (
        _minhash_mh_ctes as _mh,
    )

    jx = "round(coalesce(n_inter, 0) / (ca.n_sh + cb.n_sh - coalesce(n_inter, 0)), 6)"
    jb = f"round(greatest(0, 2 * m / {n_perm}.0 - 1), 6)"
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
      FROM documents WHERE len(trim(text, ' ')) > 0
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
            FROM toks WHERE len(ws) >= 3)
    ), {_mh(n_perm)}, {_lb()}, {_jv(0.0)},
    bm AS (
      SELECT c.doc_a, c.doc_b,
             sum(CASE WHEN x.mh % 2 = y.mh % 2 THEN 1 ELSE 0 END)::BIGINT
               AS m
      FROM cand c
      JOIN mh x ON x.doc_id = c.doc_a
      JOIN mh y ON y.doc_id = c.doc_b AND y.p = x.p
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           bm.m AS n_match_bits,
           {jb} AS j_bbit,
           {jx} AS jaccard,
           round(abs({jx} - {jb}), 6) AS est_err
    FROM cand c
    JOIN bm ON bm.doc_a = c.doc_a AND bm.doc_b = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN counts ca ON ca.doc_id = c.doc_a
    JOIN counts cb ON cb.doc_id = c.doc_b
    """


@_register("dedup_bbit_minhash", _bbit_minhash_sql())
def q_dedup_bbit_minhash(spark, sf_dir):
    """b-bit minwise hashing (Li & König 2010, b=1) with the exact
    Jaccard shipped alongside: the 64x-smaller signature store's
    estimator is value-checked pair by pair (n_match_bits is an exact
    integer; the estimate and its error are one closing float each)."""
    return dedup.bbit_minhash_pairs(_t(spark, sf_dir, "documents"))


def _ivf_stream_sql(n_clusters: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    from data_pipeline2_spark.registry.vector_partsupp import _kmeans_cte_parts

    parts, _ = _kmeans_cte_parts(n_clusters, n_iter, dim)
    return (
        "WITH "
        + ",\n".join(parts)
        + """
    SELECT vec_id, CAST(cluster AS INT) AS cell FROM af
    """
    )


@_register("ivf_index_stream", _ivf_stream_sql())
def q_ivf_index_stream(spark, sf_dir):
    """Streaming ANN-index maintenance END TO END through the real
    runtime (VERDICT r9 item 8's named gap): the deterministic k-means
    codebook fits ONCE on the corpus, then the embeddings replay as a
    3-file feed (readStream + availableNow, maxFilesPerTrigger=1 →
    three real micro-batches) and each batch's vectors enter the
    persisted cell layout via foreachBatch — rounded-argmin assignment
    against the FROZEN codebook, appended parquet physically
    partitioned by cell (the structure knn_batch_ivf's probes prune).
    The final layout reads back as (vec_id, cell) and the oracle
    replays the identical centroid trajectory + assignment in SQL
    (_kmeans_cte_parts), so a green row proves the incremental
    frozen-codebook path lands every vector in exactly the cell the
    batch fit would — the add-after-train contract, value-checked."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import similarity
    from data_pipeline2_spark.registry._core import _run_dir
    from data_pipeline2_spark.streaming import stateful

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents, _assign = similarity._kmeans_trajectory(
        emb, 8, 2, "vec_id", "embedding"
    )
    tmp = _run_dir("ivfstream")
    feed = os.path.join(tmp, "feed")
    layout = os.path.join(tmp, "layout")
    ckpt = os.path.join(tmp, "ckpt")
    # pmod, not %: negative vec ids must land in SOME feed file
    for p in range(3):
        emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == p).coalesce(
            1
        ).write.mode("append").parquet(feed)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = stateful.index_vectors_stream(stream, layout, ckpt, cents)
    q.awaitTermination()
    return stateful.load_ivf_layout(spark, layout)


@_register("training_pipeline_e2e", _e2e_sql())
def q_training_pipeline_e2e(spark, sf_dir):
    """The flagship composition as an 8-row per-stage census — proves
    the operators COMPOSE on real data; the oracle replays every stage
    (quality gate, gram-overlap decontamination, sha dedup, MinHash +
    recursive connected components, sentence chunking, hash split +
    token packing, expectation gate) in DuckDB."""
    return pipeline_e2e.training_pipeline_census(
        _t(spark, sf_dir, "documents")
    )
