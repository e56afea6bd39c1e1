"""Round-4 analytics extensions: corpus-curation diagnostics
(duplicated-span mining, near-dup rate, readability), the exact-dedup
corpus filter, signature-store export, event sessionization, the
window-distribution family, and MMR diversified re-ranking."""

from __future__ import annotations

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline2_spark.operators import (  # noqa: F401
    dedup,
    similarity,
    textanalysis,
)
from data_pipeline2_spark.registry._core import _register, _t
from data_pipeline2_spark.registry.ingest_chunk import (
    _jaccard_verify_ctes,
    _lsh_bands_cand_ctes,
    _minhash_mh_ctes,
    _slices_sql,
)
from data_pipeline2_spark.streaming import events as ev

_TOKS_SH_CTES = """toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
      FROM documents WHERE len(trim(text, ' ')) > 0
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
            FROM toks WHERE len(ws) >= 3)
    )"""


@_register(
    "dedup_exact_drop",
    """
    SELECT d.doc_id, d.lang, d.source FROM documents d
    JOIN (SELECT min(doc_id) AS doc_id FROM documents WHERE text IS NOT NULL
          GROUP BY sha256(lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g')))) k
      USING (doc_id)
    UNION ALL
    SELECT doc_id, lang, source FROM documents WHERE text IS NULL
    """,
)
def q_dedup_exact_drop(spark, sf_dir):
    """The corpus AFTER exact dedup (keeper = min doc_id, null-text rows
    pass through) — the filter a curation run applies, complementing
    dedup_exact's group report."""
    return dedup.dedup_exact_drop(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source"
    )


@_register(
    "minhash_signatures",
    f"""
    WITH {_TOKS_SH_CTES}, {_minhash_mh_ctes()}
    SELECT doc_id, CAST(p AS INT) AS perm, mh FROM mh
    """,
)
def q_minhash_signatures(spark, sf_dir):
    """The signature STORE as a first-class table (doc_id, perm, mh) —
    what incremental dedup persists between batches. Value-oracled
    end-to-end now that the family is integer universal hashing."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_signatures(
        dedup.doc_shingles(docs, 3, distinct=False)
    )


@_register(
    "duplicate_ngram_spans",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
      FROM documents WHERE len(trim(text, ' ')) > 0
    ), sh AS (
      SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS shingle
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-7)) AS i
            FROM toks WHERE len(ws) >= 8)
    )
    SELECT shingle AS gram, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences
    FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, gram LIMIT 200
    """,
)
def q_duplicate_ngram_spans(spark, sf_dir):
    return dedup.duplicate_ngram_spans(
        _t(spark, sf_dir, "documents"), n=8, min_docs=2, top=200
    )


@_register(
    "near_dup_rate",
    f"""
    WITH {_TOKS_SH_CTES}, {_minhash_mh_ctes()}, {_lsh_bands_cand_ctes()},
    {_jaccard_verify_ctes(0.5)}, dup AS (
      SELECT count(*) AS n_dup_docs FROM (
        SELECT doc_a AS d FROM pairs UNION SELECT doc_b FROM pairs)
    ), nd AS (SELECT count(*) AS n_docs FROM toks)
    SELECT nd.n_docs, (SELECT count(*) FROM pairs) AS n_dup_pairs,
           dup.n_dup_docs,
           round(dup.n_dup_docs / nd.n_docs, 6) AS dup_doc_fraction
    FROM nd, dup
    """,
)
def q_near_dup_rate(spark, sf_dir):
    return dedup.near_dup_stats(_t(spark, sf_dir, "documents"))


@_register(
    "events_sessionize",
    """
    SELECT event_id, user_id,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS INT)
             AS session_seq
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE user_id < 100 AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    """,
)
def q_events_sessionize(spark, sf_dir):
    evt = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    return ev.sessionize(evt, gap_seconds=1800)


@_register(
    "window_distribution",
    """
    SELECT c_custkey, c_nationkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def q_window_distribution(spark, sf_dir):
    """Distribution window family (ntile / percent_rank / cume_dist)
    over the customer balance per nation — one hash exchange on the
    partition key, local sort, no global ordering."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@_register(
    "readability",
    """
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           CAST(n_sents AS INT) AS n_sentences,
           CAST(n_syll AS INT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
             round(206.835 - 1.015 * (n_words / n_sents)
                   - 84.6 * (n_syll / n_words), 4)
           END AS flesch
    FROM (
      SELECT doc_id,
             CASE WHEN len(trim(text, ' ')) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(text), ' '), '\\s+'))
             END AS n_words,
             greatest(len(regexp_extract_all(text, '[^.!?]+[.!?]+')), 1)
               AS n_sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      FROM documents WHERE text IS NOT NULL
    )
    """,
)
def q_readability(spark, sf_dir):
    return textanalysis.readability(_t(spark, sf_dir, "documents"))


@_register(
    "mmr_rerank",
    """
    SELECT vec_id AS qid, CAST(5 AS INT) AS k,
           true AS first_is_top1, true AS all_in_pool, true AS k_distinct
    FROM embeddings WHERE vec_id < 5
    """,
)
def q_mmr_rerank(spark, sf_dir):
    """MMR diversified re-rank gated by its provable greedy invariants
    (first pick == exact cosine top-1, picks subset of the candidate
    pool, exactly k distinct) — same invariant-oracle pattern as
    ann_recall_stats; score values pinned by pytest on synthetic
    geometry."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.mmr_invariants(emb, queries, k=5, pool=20, lam=0.7)


@_register(
    "group_topn_sample",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('s4' || '|' || doc_id::VARCHAR), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def q_group_topn_sample(spark, sf_dir):
    from data_pipeline2_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.group_topn_sample(docs, "source", "doc_id", 20, salt="s4").select(
        "doc_id", "source"
    )


@_register(
    "chunk_dedup",
    f"""
    WITH chunks AS ({_slices_sql("documents", 100)})
    SELECT sha256(lower(regexp_replace(trim(content, ' '), '\\s+', ' ', 'g')))
             AS content_sha,
           count(*) AS n_chunks,
           count(DISTINCT doc_id) AS n_docs,
           min(chunk_id) AS keep_chunk_id
    FROM chunks WHERE content IS NOT NULL
    GROUP BY 1 HAVING count(*) >= 2
    """,
)
def q_chunk_dedup(spark, sf_dir):
    """Chunk-level exact dedup over the fixed-width chunking of the
    corpus — identical chunks found (and embedded) once."""
    from data_pipeline2_spark.operators import chunking

    chunks = chunking.chunk_fixed(_t(spark, sf_dir, "documents"), 100)
    return dedup.chunk_dedup_stats(chunks)


@_register(
    "join_skew_salted",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey < 5000
    """,
)
def q_join_skew_salted(spark, sf_dir):
    """Hot-key-immune salted equi-join (plans/skew.py): the large side
    salts its key over 8 partitions via xxhash64, the small side
    replicates per salt, and the composite-key join provably equals the
    plain join — which IS the oracle, so the whole salting round-trip
    is value-hashed."""
    from data_pipeline2_spark.plans.skew import salted_join

    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 5000)
        .select("o_orderkey", F.col("o_custkey").alias("custkey"))
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    out = salted_join(orders, cust, ["custkey"], "o_orderkey", n_salts=8)
    return out.select(
        "o_orderkey", F.col("custkey").alias("o_custkey"), "c_mktsegment"
    )


# shared with textrank_terms (curation_r7) — the co-occurrence edge
# list is the graph TextRank ranks over
_COOC_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(ws) AS w,
             unnest(generate_series(1, len(ws))) AS p
      FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
            FROM documents WHERE len(trim(text, ' ')) > 0)
    )
    SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2,
           count(*) AS pairs
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id AND b.p > a.p AND b.p <= a.p + 2
    GROUP BY 1, 2
    ORDER BY pairs DESC, w1, w2 LIMIT 100
    """


@_register(
    "term_cooccurrence",
    _COOC_SQL,
)
def q_term_cooccurrence(spark, sf_dir):
    return textanalysis.term_cooccurrence(_t(spark, sf_dir, "documents"))


@_register(
    "session_stats",
    """
    WITH tagged AS (
      SELECT user_id, epoch(ts) AS sec,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      )
    ), per_session AS (
      SELECT user_id, sess, count(*) AS n_events,
             max(sec) - min(sec) AS dur
      FROM tagged GROUP BY 1, 2
    )
    SELECT count(*) AS n_sessions,
           round(sum(n_events) / count(*), 6) AS avg_events,
           round(CAST(sum(CAST(dur AS DECIMAL(25,6))) AS DOUBLE) / count(*), 6)
             AS avg_duration_secs
    FROM per_session
    """,
)
def q_session_stats(spark, sf_dir):
    return ev.session_stats(_t(spark, sf_dir, "events"))


@_register(
    "events_windowed_distinct",
    """
    SELECT date_trunc('hour', ts) AS w_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
           count(DISTINCT user_id) AS users
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def q_events_windowed_distinct(spark, sf_dir):
    return ev.windowed_distinct_users(_t(spark, sf_dir, "events"))


@_register(
    "percentiles_by_group",
    """
    SELECT lang,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
    FROM documents GROUP BY lang
    """,
)
def q_percentiles_by_group(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont` semantics, rounded for float stability)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90_chars"),
    )


@_register(
    "join_full_outer",
    """
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_mktsegment,
           o.n_orders
    FROM (SELECT c_custkey, c_mktsegment FROM customer
          WHERE c_custkey < 500) c
    FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders
                     WHERE o_orderstatus = 'F' AND o_custkey < 800
                     GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_join_full_outer(spark, sf_dir):
    """FULL outer join with unmatched rows surviving on BOTH sides
    (customers with no finished orders keep null n_orders; order
    buckets outside the customer slice keep null segment)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .select("c_custkey", "c_mktsegment")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_custkey") < 800))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "full_outer"
    ).select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_mktsegment",
        "n_orders",
    )


@_register(
    "pretrain_pack",
    """
    WITH toks AS (
      SELECT doc_id, source,
             CASE WHEN len(trim(text, ' ')) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text, ' '), '\\s+'))
             END AS tok
      FROM documents WHERE text IS NOT NULL
    ), binned AS (
      SELECT source,
             CAST(floor((sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - tok) / 2048)
                  AS BIGINT) AS bin_id,
             tok
      FROM toks
    )
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens
    FROM binned GROUP BY source, bin_id
    """,
)
def q_pretrain_pack(spark, sf_dir):
    """Per-source fixed-budget pretraining bins (sequential packing in
    deterministic id order within each source shard, reproducible
    append-only shards). Sharded export (VERDICT r5 item 1): the prefix
    sum partitions on `source`, so the plan has no single-task global
    window — each shard's running sum is an independent window
    partition, exactly how a 100 TB corpus packs per data source."""
    from data_pipeline2_spark.operators import sampling

    return sampling.pretrain_pack(
        _t(spark, sf_dir, "documents"), budget=2048, shard_col="source"
    )


# Engine-portable shard bucket: 60-bit md5 prefix mod n — the same
# hash family as dedup.shingle_hash64, replayed verbatim in DuckDB.
_ILV_SHARDS = 8
_ILV_SHARD_SQL = (
    "CAST(CAST('0x' || substring(md5('ilshard|' || doc_id::VARCHAR), 1, 15) "
    f"AS BIGINT) % {_ILV_SHARDS} AS INT)"
)


@_register(
    "dataset_interleave",
    f"""
    WITH d AS (
      SELECT doc_id, source, {_ILV_SHARD_SQL} AS shard
      FROM documents
    ), p AS (
      SELECT doc_id, source, shard,
             row_number() OVER (
               PARTITION BY shard, source
               ORDER BY md5('il1' || '|' || doc_id::VARCHAR), doc_id
             ) AS pos
      FROM d
    )
    SELECT doc_id, source, shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY pos, source) AS INT) AS seq
    FROM p
    """,
)
def q_dataset_interleave(spark, sf_dir):
    """Round-robin source interleave WITHIN hash shards: reading a
    shard in seq order alternates sources — the epoch-0 layout of a
    mixed corpus, one file per shard. Sharded export (VERDICT r5
    item 1): docs bucket by a deterministic 60-bit-md5 hash, so the seq
    window partitions on the shard and no exported plan carries a
    single-task global window; a global order, when a trainer needs
    one, is (shard, seq) — shards are balanced by the hash."""
    from data_pipeline2_spark.operators import sampling
    from data_pipeline2_spark.operators.dedup import shingle_hash64

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn(
            "shard",
            (
                shingle_hash64(
                    F.concat(F.lit("ilshard|"), F.col("doc_id").cast("string"))
                )
                % _ILV_SHARDS
            ).cast("int"),
        )
    )
    return sampling.dataset_interleave(
        docs, "source", "doc_id", salt="il1", shard_col="shard"
    )


def _langid_confusion_sql() -> str:
    from data_pipeline2_spark.registry.text_sampling import _lang_sql

    return f"""
    WITH preds AS ({_lang_sql()})
    SELECT d.lang AS label, p.lang_pred AS pred, count(*) AS docs
    FROM documents d JOIN preds p ON d.doc_id = p.doc_id
    GROUP BY 1, 2
    """


@_register("langid_confusion", _langid_confusion_sql())
def q_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix against the labeled lang column —
    the evaluation view of the lang_id heuristic (label x prediction
    document counts)."""
    docs = _t(spark, sf_dir, "documents")
    pred, _hits = textanalysis.lang_pred_cols(F.col("text"))
    return (
        docs.select(F.col("lang").alias("label"), pred.alias("pred"))
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


@_register(
    "events_dau_wau",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(DISTINCT user_id) AS dau
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), weekly AS (
      SELECT date_trunc('week', ts) AS week, count(DISTINCT user_id) AS wau
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau,
           round(d.dau / w.wau, 6) AS stickiness
    FROM daily d JOIN weekly w ON date_trunc('week', d.day) = w.week
    """,
)
def q_events_dau_wau(spark, sf_dir):
    """DAU / WAU / stickiness — the product-analytics staple: two
    distinct-user aggregations at different grains joined on the
    containing week."""
    evt = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = evt.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    weekly = evt.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return daily.join(
        weekly, F.date_trunc("week", F.col("day")) == F.col("week")
    ).select(
        "day", "dau", "wau", F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness")
    )


@_register(
    "rfm_segments",
    """
    WITH rfm AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey, last_order,
           CAST(frequency AS BIGINT) AS frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY last_order, o_custkey) AS INT) AS r_q,
           CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS INT) AS f_q,
           CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS INT) AS m_q
    FROM rfm
    """,
)
def q_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) quartile segmentation per
    customer — exact decimal money sums, deterministic ntile
    tie-breaks."""
    orders = _t(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
        .cast("double")
        .alias("monetary"),
    )
    return rfm.select(
        F.col("o_custkey").alias("custkey"),
        "last_order",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy("last_order", "o_custkey"))
        .alias("r_q"),
        F.ntile(4).over(Window.orderBy("frequency", "o_custkey")).alias("f_q"),
        F.ntile(4).over(Window.orderBy("monetary", "o_custkey")).alias("m_q"),
    )


@_register(
    "compact_table",
    "SELECT doc_id, lang, source FROM documents",
)
def q_compact_table(spark, sf_dir):
    """Small-files compaction roundtrip: fragment the documents table
    into 40 micro-batch-sized files, compact to target size, and emit
    the re-read rows — the oracle is the original table, so any row
    lost or duplicated by the rewrite/swap hash-fails."""
    import shutil

    from data_pipeline2_spark.operators import writers

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    path = writers.scratch_dir("compact_table", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    docs.repartition(40).write.mode("overwrite").parquet(path)
    return writers.compact_small_files(spark, path, target_mb=128)


def _pagerank_sql(
    n_iter: int = 3, damping: float = 0.85, parts_only: bool = False
) -> str | tuple[str, str]:
    """Unrolled PageRank CTE chain over a `pairs(doc_a, doc_b)` CTE —
    identical per-iteration 8-decimal rounding as the engine, so both
    walk the same trajectory (the k-means oracle trick).
    parts_only=True returns (cte_chain, final_rank_relation) so other
    keys (textrank_terms) can wrap the ranks in further CTEs."""
    parts = [f"""edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
    r0 AS MATERIALIZED (SELECT node, round(1.0 / n, 8) AS rank FROM nodes, nn)"""]
    prev = "r0"
    for i in range(1, n_iter + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
      SELECT e.dst,
             CAST(sum(CAST(round(r.rank / d.deg, 12) AS DECIMAL(28,12)))
                  AS DOUBLE) AS c
      FROM edges e JOIN {prev} r ON e.src = r.node
                   JOIN deg d ON e.src = d.node
      GROUP BY e.dst
    ), r{i} AS MATERIALIZED (
      SELECT nodes.node,
             round({1.0 - damping} / nn.n
                   + {damping} * coalesce(c{i}.c, 0.0), 8) AS rank
      FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.dst, nn
    )""")
        prev = f"r{i}"
    if parts_only:
        return ",\n".join(parts), prev
    return (
        ",\n".join(parts)
        + f"\n    SELECT node, round(rank, 6) AS pagerank FROM {prev}"
    )


@_register(
    "dedup_graph_pagerank",
    f"""
    WITH {_TOKS_SH_CTES}, {_minhash_mh_ctes()}, {_lsh_bands_cand_ctes()},
    {_jaccard_verify_ctes(0.5)},
    {_pagerank_sql()}
    """,
)
def q_dedup_graph_pagerank(spark, sf_dir):
    """PageRank centrality over the near-dup graph: the hub of each dup
    cluster is its natural canonical representative; heavy hubs flag
    boilerplate families. Iterations unrolled in-plan with rounded
    trajectories, value-replayed end-to-end (minhash pipeline included)
    by the oracle."""
    pairs = dedup.dedup_near_minhash(_t(spark, sf_dir, "documents")).select(
        "doc_a", "doc_b"
    )
    return dedup.pagerank_pairs(pairs)
