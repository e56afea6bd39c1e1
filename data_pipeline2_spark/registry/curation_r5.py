"""Round-5 registry keys, part 1: published quality-filter suites
(Gopher / C4), duplicate-line repetition signals, URL density, and
exact-integer corpus statistics (token rarity, vocabulary, cross-source
shingle containment)."""

from __future__ import annotations

from data_pipeline2_spark.operators import quality
from data_pipeline2_spark.registry._core import _register, _t

# shared guard: token array of lowercased whitespace words, [] for blank
_WS_LOWER = (
    "CASE WHEN len(trim(text, ' ')) = 0 THEN [] "
    "ELSE regexp_split_to_array(trim(lower(text), ' '), '\\s+') END"
)
_WS_RAW = (
    "CASE WHEN len(trim(text, ' ')) = 0 THEN [] "
    "ELSE regexp_split_to_array(trim(text, ' '), '\\s+') END"
)
_NONBLANK_LINES = (
    "list_filter(regexp_split_to_array(text, '\\r?\\n'), "
    "x -> len(trim(x, ' ')) > 0)"
)
# 60-bit md5-prefix fingerprint (engine-portable hash family, same as
# the minhash shingle fingerprints in ingest_chunk._minhash_mh_ctes)
def _md5_60(expr: str) -> str:
    return f"CAST('0x' || substring(md5({expr}), 1, 15) AS BIGINT)"


_GOPHER_SQL = f"""
    WITH t AS (
      SELECT doc_id, text, {_WS_RAW} AS ws, {_NONBLANK_LINES} AS lines
      FROM documents WHERE text IS NOT NULL
    ), m AS (
      SELECT doc_id,
        len(ws)::BIGINT AS n_words,
        round(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
              / greatest(len(ws), 1), 6) AS mean_word_len,
        round((
            (len(text) - len(replace(text, '#', '')))::BIGINT
          + CAST((len(text) - len(replace(text, '...', ''))) / 3 AS BIGINT)
          + (len(text) - len(replace(text, '…', '')))::BIGINT
        ) / greatest(len(ws), 1), 6) AS symbol_word_ratio,
        round(len(list_filter(lines,
                x -> left(ltrim(x, ' '), 1) IN ('•','‣','▪','-','*')))
              / greatest(len(lines), 1), 6) AS bullet_line_frac,
        round(len(list_filter(lines,
                x -> rtrim(x, ' ') LIKE '%...' OR rtrim(x, ' ') LIKE '%…'))
              / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
        round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
              / greatest(len(ws), 1), 6) AS alpha_word_frac,
        ( list_contains(list_transform(ws, w -> lower(w)), 'the')::INT
        + list_contains(list_transform(ws, w -> lower(w)), 'be')::INT
        + list_contains(list_transform(ws, w -> lower(w)), 'to')::INT
        + list_contains(list_transform(ws, w -> lower(w)), 'of')::INT
        + list_contains(list_transform(ws, w -> lower(w)), 'and')::INT
        + list_contains(list_transform(ws, w -> lower(w)), 'that')::INT
        + list_contains(list_transform(ws, w -> lower(w)), 'have')::INT
        + list_contains(list_transform(ws, w -> lower(w)), 'with')::INT
        )::INT AS stopword_hits
      FROM t
    )
    SELECT *, (n_words BETWEEN 50 AND 100000
               AND mean_word_len BETWEEN 3.0 AND 10.0
               AND symbol_word_ratio <= 0.1
               AND bullet_line_frac < 0.9
               AND ellipsis_line_frac < 0.3
               AND alpha_word_frac >= 0.8
               AND stopword_hits >= 2) AS gopher_pass
    FROM m
    """


@_register("gopher_quality", _GOPHER_SQL)
def q_gopher_quality(spark, sf_dir):
    return quality.gopher_quality(_t(spark, sf_dir, "documents"))


_C4_SQL = f"""
    WITH t AS (
      SELECT doc_id, text, {_NONBLANK_LINES} AS lines
      FROM documents WHERE text IS NOT NULL
    ), m AS (
      SELECT doc_id,
        len(lines)::BIGINT AS n_lines,
        round(len(list_filter(lines,
                x -> right(rtrim(x, ' '), 1) IN ('.','!','?','"')))
              / greatest(len(lines), 1), 6) AS term_punct_line_frac,
        round(len(list_filter(lines,
                x -> len(regexp_split_to_array(trim(x, ' '), '\\s+')) >= 5))
              / greatest(len(lines), 1), 6) AS five_word_line_frac,
        len(regexp_extract_all(text, '[^.!?]+[.!?]+'))::BIGINT AS n_sentences,
        contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
        contains(text, '{{') AS has_brace,
        len(list_filter(lines, x -> contains(lower(x), 'javascript')))::BIGINT
          AS n_javascript_lines
      FROM t
    )
    SELECT *, (n_sentences >= 3 AND NOT has_lorem_ipsum AND NOT has_brace
               AND n_javascript_lines = 0) AS c4_pass
    FROM m
    """


@_register("c4_quality", _C4_SQL)
def q_c4_quality(spark, sf_dir):
    return quality.c4_quality(_t(spark, sf_dir, "documents"))


@_register(
    "dup_line_stats",
    f"""
    WITH lines AS (
      SELECT doc_id, trim(x, ' ') AS line
      FROM (SELECT doc_id, unnest({_NONBLANK_LINES}) AS x
            FROM documents WHERE text IS NOT NULL)
    ), per_line AS (
      SELECT doc_id, {_md5_60('line')} AS line_h,
             count(*) AS cnt, max(len(line)) AS line_len
      FROM lines GROUP BY doc_id, {_md5_60('line')}
    ), per_doc AS (
      SELECT doc_id, sum(cnt) AS n_lines, sum(cnt - 1) AS dup_lines,
             sum(cnt * line_len) AS n_chars,
             sum((cnt - 1) * line_len) AS dup_chars
      FROM per_line GROUP BY doc_id
    )
    SELECT doc_id, n_lines::BIGINT AS n_lines,
           round(dup_lines / greatest(n_lines, 1), 6) AS dup_line_frac,
           round(dup_chars / greatest(n_chars, 1), 6) AS dup_line_char_frac
    FROM per_doc
    """,
)
def q_dup_line_stats(spark, sf_dir):
    return quality.dup_line_stats(_t(spark, sf_dir, "documents"))


@_register(
    "url_stats",
    r"""
    WITH u AS (
      SELECT doc_id, text,
             regexp_extract_all(text, 'https?://[^\s]+') AS urls
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, len(urls)::BIGINT AS n_urls,
           round(coalesce(list_sum(list_transform(urls, x -> len(x))), 0)
                 / greatest(len(text), 1), 6) AS url_char_frac,
           len(urls) > 0 AS has_url
    FROM u
    """,
)
def q_url_stats(spark, sf_dir):
    return quality.url_stats(_t(spark, sf_dir, "documents"))


@_register(
    "token_rarity",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WS_LOWER}) AS w
      FROM documents WHERE text IS NOT NULL
    ), counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w)
    SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(c)::BIGINT AS freq_sum,
           sum((c <= 2)::BIGINT)::BIGINT AS rare_tokens,
           round(sum((c <= 2)::BIGINT) / greatest(count(*), 1), 6) AS rare_frac
    FROM toks JOIN counts USING (w)
    GROUP BY doc_id
    """,
)
def q_token_rarity(spark, sf_dir):
    return quality.token_rarity(_t(spark, sf_dir, "documents"))


@_register(
    "vocab_stats",
    f"""
    WITH toks AS (
      SELECT unnest({_WS_LOWER}) AS w
      FROM documents WHERE text IS NOT NULL
    ), counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w)
    SELECT sum(c)::BIGINT AS total_tokens, count(*)::BIGINT AS vocab_size,
           sum((c = 1)::BIGINT)::BIGINT AS hapax_count,
           round(sum((c = 1)::BIGINT) / greatest(count(*), 1), 6) AS hapax_frac,
           round(count(*) / greatest(sum(c), 1), 6) AS type_token_ratio
    FROM counts
    """,
)
def q_vocab_stats(spark, sf_dir):
    return quality.vocab_stats(_t(spark, sf_dir, "documents"))


@_register(
    "source_overlap",
    f"""
    WITH toks AS (
      SELECT source AS src, {_WS_LOWER} AS ws
      FROM documents WHERE text IS NOT NULL
    ), sh AS (
      SELECT DISTINCT src,
             {_md5_60("array_to_string(ws[i:i+2], ' ')")} AS sh64
      FROM (SELECT src, ws, unnest(generate_series(1, len(ws)-2)) AS i
            FROM toks WHERE len(ws) >= 3)
    ), sizes AS (SELECT src, count(*) AS n FROM sh GROUP BY src),
    shared AS (
      SELECT a.src AS source_a, b.src AS source_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.sh64 = b.sh64 AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
           shared::BIGINT AS shared,
           round(shared / greatest(sa.n, 1), 6) AS containment_a,
           round(shared / greatest(sb.n, 1), 6) AS containment_b
    FROM shared JOIN sizes sa ON sa.src = source_a
                JOIN sizes sb ON sb.src = source_b
    """,
)
def q_source_overlap(spark, sf_dir):
    return quality.source_overlap(_t(spark, sf_dir, "documents"))


# ---- round-5 part 2: CDC merge, EWMA, market basket, dup-graph triangles

from pyspark.sql import functions as F  # noqa: E402

from data_pipeline2_spark.operators import joins  # noqa: E402
from data_pipeline2_spark.registry.analytics_ext import _TOKS_SH_CTES  # noqa: E402
from data_pipeline2_spark.registry.ingest_chunk import (  # noqa: E402
    _jaccard_verify_ctes,
    _lsh_bands_cand_ctes,
    _minhash_mh_ctes,
)
from data_pipeline2_spark.streaming import events as ev  # noqa: E402


# Shared CDC fixture (merge_upsert + round-6 ivm_agg_delta): orders as
# the base table in integer cents, a deterministically derived
# changeset — updates (%7: status X, +999 cents), inserts (%31,
# key+10M), deletes (%13, later ts — wins over an overlapping %7
# update) — and the latest-change-per-key resolution with the
# operator's full payload tie-break mirrored.
_CDC_BASE_CHANGES_CTES = """base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS total_cents
      FROM orders
    ), changes AS (
      SELECT o_orderkey, 'U' AS op, 1 AS change_ts,
             'X' AS o_orderstatus, total_cents + 999 AS total_cents
      FROM base WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, 'I', 1, 'N', o_orderkey % 100000
      FROM base WHERE o_orderkey % 31 = 0
      UNION ALL
      SELECT o_orderkey, 'D', 2, NULL, NULL
      FROM base WHERE o_orderkey % 13 = 0
    ), latest AS (
      SELECT o_orderkey, op, o_orderstatus, total_cents FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY change_ts DESC, op DESC,
                                              o_orderstatus ASC NULLS FIRST,
                                              total_cents ASC NULLS FIRST) AS rn
        FROM changes) WHERE rn = 1
    )"""

_CDC_MERGED_SELECT = """
    SELECT o_orderkey,
           CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus
                ELSE b.o_orderstatus END AS o_orderstatus,
           CASE WHEN c.op IS NOT NULL THEN c.total_cents
                ELSE b.total_cents END AS total_cents
    FROM base b FULL JOIN latest c USING (o_orderkey)
    WHERE c.op IS NULL OR c.op <> 'D'
"""


def _cdc_base_changes(spark, sf_dir):
    """Spark twin of _CDC_BASE_CHANGES_CTES → (base, changes)."""
    orders = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("total_cents"),
    )
    upd = base.filter(key % 7 == 0).select(
        "o_orderkey", F.lit("U").alias("op"), F.lit(1).alias("change_ts"),
        F.lit("X").alias("o_orderstatus"),
        (F.col("total_cents") + 999).alias("total_cents"),
    )
    ins = base.filter(key % 31 == 0).select(
        (key + 10_000_000).alias("o_orderkey"), F.lit("I").alias("op"),
        F.lit(1).alias("change_ts"), F.lit("N").alias("o_orderstatus"),
        (key % 100_000).cast("long").alias("total_cents"),
    )
    dels = base.filter(key % 13 == 0).select(
        "o_orderkey", F.lit("D").alias("op"), F.lit(2).alias("change_ts"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("long").alias("total_cents"),
    )
    return base, upd.unionByName(ins).unionByName(dels)


@_register(
    "merge_upsert",
    f"""
    WITH {_CDC_BASE_CHANGES_CTES}
    {_CDC_MERGED_SELECT}
    """,
)
def q_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics over a deterministically derived changeset:
    updates (%7: status X, +999 cents), inserts (%31, key+10M), deletes
    (%13, later ts — wins over an overlapping %7 update, exercising
    latest-change-per-key)."""
    base, changes = _cdc_base_changes(spark, sf_dir)
    return joins.merge_upsert(base, changes, ["o_orderkey"])


def _ewma_sql(alpha: float = 0.5, lookback: int = 8) -> str:
    """Replay ewma_values' fixed-order term sums: weights are exact
    binary doubles ((1-alpha)^k with alpha=0.5), terms add left to
    right exactly as the engine's expression tree does."""
    num, den = ["0.0"], ["0.0"]
    for k in range(lookback):
        w = repr(alpha * (1.0 - alpha) ** k)
        lag = f"lag(value, {k}) OVER w"
        num.append(f"CASE WHEN {lag} IS NOT NULL THEN {lag} * {w} ELSE 0.0 END")
        den.append(f"CASE WHEN {lag} IS NOT NULL THEN {w} ELSE 0.0 END")
    return f"""
    SELECT event_id, user_id, value,
           CASE WHEN {' + '.join(den)} > 0
                THEN round(({' + '.join(num)}) / ({' + '.join(den)}), 6)
           END AS ewma
    FROM events WHERE user_id < 100 AND ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@_register("events_ewma", _ewma_sql())
def q_events_ewma(spark, sf_dir):
    evt = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") < 100) & F.col("ts").isNotNull()
    )
    return ev.ewma_values(evt).select("event_id", "user_id", "value", "ewma")


@_register(
    "market_basket",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ), pairs AS (
      SELECT a.part AS part_a, b.part AS part_b, count(*) AS pair_orders
      FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
      GROUP BY 1, 2 HAVING count(*) >= 2
    ), pp AS (SELECT part, count(*) AS n_orders FROM items GROUP BY part),
    tot AS (SELECT count(DISTINCT okey) AS n FROM items)
    SELECT part_a, part_b, pair_orders::BIGINT AS pair_orders,
           pa.n_orders::BIGINT AS orders_a, pb.n_orders::BIGINT AS orders_b,
           round((tot.n * pair_orders) / (pa.n_orders * pb.n_orders), 6)
             AS lift
    FROM pairs JOIN pp pa ON pa.part = pairs.part_a
               JOIN pp pb ON pb.part = pairs.part_b
               CROSS JOIN tot
    ORDER BY pair_orders DESC, part_a, part_b LIMIT 100
    """,
)
def q_market_basket(spark, sf_dir):
    return joins.market_basket(_t(spark, sf_dir, "lineitem"))


from data_pipeline2_spark.operators import dedup as _dedup  # noqa: E402

@_register(
    "dup_graph_triangles",
    f"""
    WITH {_TOKS_SH_CTES}, {_minhash_mh_ctes()}, {_lsh_bands_cand_ctes()},
    {_jaccard_verify_ctes(0.5)}
    SELECT ab.doc_a, ab.doc_b, bc.doc_b AS doc_c
    FROM pairs ab JOIN pairs bc ON ab.doc_b = bc.doc_a
                  JOIN pairs ac ON ac.doc_a = ab.doc_a
                                AND ac.doc_b = bc.doc_b
    """,
)
def q_dup_graph_triangles(spark, sf_dir):
    return _dedup.dup_graph_triangles(_t(spark, sf_dir, "documents"))


# ---- round-5 part 3: embedding compression/stats
# (JSONL/CSV/ORC interchange roundtrips already have keys —
# events_io.q_jsonl_roundtrip etc over sources/text_formats.py, green
# since r02; round 5 upgraded write_csv/read_csv with a NULL sentinel
# so NULL and '' text stay distinct through the roundtrip.)

from data_pipeline2_spark.operators import similarity  # noqa: E402

# (pos, value) pairs via zipped unnest: generate_series can't take a
# lateral len(embedding) bound in DuckDB, but aligned unnests zip — so
# the index range derives from each row's actual dimensionality
# (ADVICE r5: no hardcoded 64).
_EMB_EXPAND = (
    "SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,\n"
    "       unnest(embedding)::DOUBLE AS v\n"
    "FROM embeddings"
)
_V_SUM = "CAST(sum(CAST(v AS DECIMAL(25,10))) AS DOUBLE)"
_V_SUMSQ = "CAST(sum(CAST(v * v AS DECIMAL(25,10))) AS DOUBLE)"


@_register(
    "embedding_dim_stats",
    f"""
    WITH ex AS ({_EMB_EXPAND})
    SELECT CAST(i - 1 AS INT) AS pos, count(*)::BIGINT AS n,
           round({_V_SUM} / count(*), 6) AS mean_v,
           round({_V_SUMSQ} / count(*)
                 - ({_V_SUM} / count(*)) * ({_V_SUM} / count(*)),
                 6) AS var_v
    FROM ex
    GROUP BY i
    """,
)
def q_embedding_dim_stats(spark, sf_dir):
    return similarity.embedding_dim_stats(_t(spark, sf_dir, "embeddings"))


@_register(
    "vector_quantize_int8",
    f"""
    WITH ex AS ({_EMB_EXPAND}
    ), r AS (SELECT i, min(v) AS lo, max(v) AS hi FROM ex GROUP BY i),
    s AS (
      SELECT vec_id, v, lo, hi - lo AS width,
             CASE WHEN hi - lo > 0
                  THEN CAST(least(floor((v - lo) * 256.0 / (hi - lo)),
                                  255) AS INT)
                  ELSE 0 END AS code
      FROM ex JOIN r USING (i)
    )
    SELECT vec_id, count(*)::INT AS n_dims, sum(code)::BIGINT AS code_sum,
           min(abs(lo + (CAST(code AS DOUBLE) + 0.5) * width / 256.0 - v)
               <= width / 512.0 + 1e-9) AS within_bound
    FROM s GROUP BY vec_id
    """,
)
def q_vector_quantize_int8(spark, sf_dir):
    return similarity.quantize_int8(_t(spark, sf_dir, "embeddings"))


@_register(
    "pca_project",
    """
    SELECT vec_id, CAST(4 AS INT) AS k, true AS bessel_ok FROM embeddings
    """,
)
def q_pca_project(spark, sf_dir):
    """Invariant oracle (mmr_rerank/pq_quantize pattern): the projected
    VALUES are sample-dependent (driver-side bounded SVD), but Bessel's
    inequality must hold for every row iff the components are a real
    orthonormal basis — that boolean is what the driver checks; value
    behavior (variance ordering, reconstruction) gates in pytest."""
    return similarity.pca_project(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("k").cast("int").alias("k"), "bessel_ok"
    )


from data_pipeline2_spark.operators import textanalysis  # noqa: E402


@_register(
    "heavy_hitters_sketch",
    f"""
    WITH toks AS (
      SELECT unnest({_WS_LOWER}) AS term
      FROM documents WHERE text IS NOT NULL
    ), tot AS (SELECT count(*) AS n FROM toks)
    SELECT term, count(*)::BIGINT AS occurrences
    FROM toks, tot GROUP BY term, tot.n
    HAVING count(*) * 200 > tot.n
    """,
)
def q_heavy_hitters_sketch(spark, sf_dir):
    """Sketch-then-verify heavy hitters: the candidate set is
    partition-dependent (space-saving summaries), but the exact verify
    + threshold make the OUTPUT provably partition-independent and
    identical to the exact SQL answer — which is the oracle."""
    return textanalysis.heavy_hitters_sketch(_t(spark, sf_dir, "documents"))


from data_pipeline2_spark.registry.vector_partsupp import (  # noqa: E402
    _ANN_RECALL_ORACLE,
    _ann_queries,
)


@_register("knn_batch_sq8", _ANN_RECALL_ORACLE)
def q_knn_batch_sq8(spark, sf_dir):
    """SQ8 rank + exact re-rank, recall-gated in-plan (same contract as
    knn_batch_pq): per-query top-5 must recover >= 0.6 of the exact
    cosine top-5 — with 1 byte/dim precision it comfortably does."""
    emb, queries = _ann_queries(spark, sf_dir)
    ann = similarity.knn_batch_sq8(emb, queries, k=5, rerank=200)
    return similarity.ann_recall_stats(emb, queries, ann, k=5, threshold=0.6)


@_register(
    "events_top_paths",
    """
    WITH t AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_type, ts, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM t
    ), led AS (
      SELECT event_type, sess,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             lead(sess, 2) OVER w AS sess2
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t1 || '>' || t2 AS path,
           count(*)::BIGINT AS occurrences
    FROM led WHERE t2 IS NOT NULL AND sess2 = sess
    GROUP BY 1 ORDER BY occurrences DESC, path LIMIT 50
    """,
)
def q_events_top_paths(spark, sf_dir):
    return ev.top_paths(_t(spark, sf_dir, "events"))


from data_pipeline2_spark.registry.text_sampling import _QUALITY_SQL  # noqa: E402

_NN = "greatest(count(*) - sum(is_null), 1)"


@_register(
    "curation_report",
    f"""
    WITH g AS ({_GOPHER_SQL}), c AS ({_C4_SQL}), q AS ({_QUALITY_SQL}),
    src AS (SELECT doc_id, source, (text IS NULL)::BIGINT AS is_null
            FROM documents)
    SELECT src.source, count(*)::BIGINT AS n_docs,
           sum(is_null)::BIGINT AS n_null_text,
           round(sum(CASE WHEN g.gopher_pass THEN 1 ELSE 0 END)
                 / {_NN}, 6) AS gopher_pass_rate,
           round(sum(CASE WHEN c.c4_pass THEN 1 ELSE 0 END)
                 / {_NN}, 6) AS c4_pass_rate,
           round(CAST(sum(CAST(q.quality AS DECIMAL(18,6))) AS DOUBLE)
                 / {_NN}, 6) AS mean_quality
    FROM src LEFT JOIN g USING (doc_id) LEFT JOIN c USING (doc_id)
             LEFT JOIN q USING (doc_id)
    GROUP BY src.source
    """,
)
def q_curation_report(spark, sf_dir):
    """Fused per-source curation dashboard — the oracle composes the
    gopher/c4/quality key oracles as CTEs joined on doc_id; the engine
    computes the same numbers in ONE scan + one tiny aggregation."""
    return quality.curation_report(_t(spark, sf_dir, "documents"))


_BM25_BATCH_QUERIES = [
    (1, "hash join strategy"),
    (2, "slow scan filter"),
    (3, "customer order data"),
]


def _bm25_batch_ctes(
    queries: list, k1: float = 1.2, b: float = 0.75
) -> str:
    """CTE chain replaying bm25_search_batch up to per-(qid, doc)
    scores with a per-query rank (`bscored`): shared postings,
    decimal-exact contribution sums. Reused by bm25_batch and the
    batch hybrid-search oracle."""
    values = ", ".join(f"({q}, '{s}')" for q, s in queries)
    return f"""q AS (SELECT * FROM (VALUES {values}) AS v(qid, query)),
    qt AS (
      SELECT DISTINCT qid,
             unnest(regexp_split_to_array(lower(trim(query, ' ')), '\\s+')) AS term
      FROM q
    ),
    docs AS (
      SELECT doc_id,
             CASE WHEN len(trim(text, ' ')) = 0 THEN []
                  ELSE regexp_split_to_array(lower(trim(text, ' ')), '\\s+') END AS toks
      FROM documents
    ), dl AS (
      SELECT doc_id, len(toks)::DOUBLE AS dl FROM docs
    ), stats AS (
      SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*)::DOUBLE AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
      WHERE term IN (SELECT term FROM qt)
      GROUP BY doc_id, term
    ), dfx AS (
      SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
    ), contrib AS (
      SELECT tf.doc_id, tf.term,
             CAST(round(
               ln(1.0 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
               * tf.tf * {k1 + 1.0}
               / (tf.tf + {k1} * ({1.0 - b} + {b} * dl.dl / s.avgdl)),
             12) AS DECIMAL(28,12)) AS c
      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ), scored AS (
      SELECT qt.qid, c.doc_id,
             round(CAST(sum(c.c) AS DOUBLE), 6) AS score,
             CAST(count(*) AS INT) AS matched_terms
      FROM contrib c JOIN qt USING (term)
      GROUP BY qt.qid, c.doc_id
    ),
    bscored AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, doc_id) AS rn
      FROM scored
    )"""


def _bm25_batch_sql(k: int = 10) -> str:
    return f"""
    WITH {_bm25_batch_ctes(_BM25_BATCH_QUERIES)}
    SELECT qid, doc_id, score, matched_terms FROM bscored WHERE rn <= {k}
    """


@_register("bm25_batch", _bm25_batch_sql())
def q_bm25_batch(spark, sf_dir):
    """Whole-query-table BM25: shared posting aggregation, per-query
    top-k — the offline relevance-evaluation shape."""
    queries = spark.createDataFrame(
        _BM25_BATCH_QUERIES, "qid int, query string"
    )
    return textanalysis.bm25_search_batch(
        _t(spark, sf_dir, "documents"), queries, k=10
    )


from data_pipeline2_spark.registry.ingest_chunk import (  # noqa: E402
    _MINHASH_SQL,
)

_EXACT_JACCARD_PAIRS = """
    toksx AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
      FROM documents WHERE len(trim(text, ' ')) > 0
    ), shx AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i
            FROM toksx WHERE len(ws) >= 3)
    ), countsx AS (
      SELECT doc_id, count(*) AS n_sh FROM shx GROUP BY doc_id
    ), interx AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), exact_pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM interx i JOIN countsx ca ON ca.doc_id = i.doc_a
                    JOIN countsx cb ON cb.doc_id = i.doc_b
      WHERE round(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.5
    )
"""


@_register(
    "dedup_lsh_eval",
    f"""
    WITH lsh_pairs AS ({_MINHASH_SQL}), {_EXACT_JACCARD_PAIRS.strip()},
    ne AS (SELECT count(*) AS n_exact_pairs FROM exact_pairs),
    nl AS (SELECT count(*) AS n_lsh_pairs FROM lsh_pairs),
    nc AS (SELECT count(*) AS n_common
           FROM exact_pairs e JOIN lsh_pairs l
             ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
    SELECT n_exact_pairs::BIGINT AS n_exact_pairs,
           n_lsh_pairs::BIGINT AS n_lsh_pairs, n_common::BIGINT AS n_common,
           round(n_common / greatest(n_exact_pairs, 1), 6) AS recall,
           round(n_common / greatest(n_lsh_pairs, 1), 6) AS precision
    FROM ne CROSS JOIN nl CROSS JOIN nc
    """,
)
def q_dedup_lsh_eval(spark, sf_dir):
    """LSH candidate-recall measured against the exact all-pairs ground
    truth every round — the banding retune gate (N_PERM/BAND_SIZE)."""
    return _dedup.lsh_eval(_t(spark, sf_dir, "documents"))


@_register(
    "semantic_dedup_clusters",
    """
    WITH RECURSIVE n AS (
      SELECT vec_id, label,
             list_transform(embedding,
                x -> x::DOUBLE / sqrt(list_aggregate(list_transform(embedding,
                     y -> y::DOUBLE * y::DOUBLE), 'sum'))) AS nv
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_aggregate(list_transform(generate_series(1, len(a.nv)),
                i -> a.nv[i] * b.nv[i]), 'sum'), 6) >= 0.35
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS vec_id, min(label) AS cluster_id FROM reach GROUP BY node
    """,
)
def q_semantic_dedup_clusters(spark, sf_dir):
    """Semantic-dedup cluster assignment: connected components over the
    embedding-cosine near-dup pairs (the SemDeDup-style grouping step —
    pick one representative per cluster downstream). Same O(log
    diameter) pointer-doubling CC as dedup_clusters; pairs come from
    the oracle-green dedup_near_embedding at its tail threshold."""
    pairs = _dedup.dedup_near_embedding(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, group_col="label"
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return _dedup.dedup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


_HYBRID_BATCH_QUERIES = [
    (0, "hash join strategy"),
    (1, "slow scan filter"),
    (2, "customer order data"),
]


def _hybrid_batch_sql(k: int = 10, n_cand: int = 50, rrf_k: int = 60) -> str:
    from data_pipeline2_spark.registry._core import _cos_sql

    return f"""
    WITH {_bm25_batch_ctes(_HYBRID_BATCH_QUERIES)},
    bm_r AS (
      SELECT qid, doc_id, CAST(rn AS INT) AS bm25_rank
      FROM bscored WHERE rn <= {n_cand}
    ),
    qv AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
           WHERE vec_id < 3),
    vscored AS (
      SELECT qv.qid, e.vec_id AS doc_id,
             round({_cos_sql('e.embedding', 'qv.qvec')}, 6) AS score
      FROM embeddings e CROSS JOIN qv
    ),
    vec_r AS (
      SELECT qid, doc_id, CAST(rn AS INT) AS vec_rank FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY score DESC, doc_id) AS rn
        FROM vscored) WHERE rn <= {n_cand}
    ),
    fused AS (
      SELECT coalesce(bm_r.qid, vec_r.qid) AS qid,
             coalesce(bm_r.doc_id, vec_r.doc_id) AS doc_id,
             bm_r.bm25_rank, vec_r.vec_rank,
             round(coalesce(1.0 / ({rrf_k}.0 + bm_r.bm25_rank), 0.0)
                   + coalesce(1.0 / ({rrf_k}.0 + vec_r.vec_rank), 0.0), 6)
               AS rrf_score
      FROM bm_r FULL OUTER JOIN vec_r
        ON bm_r.qid = vec_r.qid AND bm_r.doc_id = vec_r.doc_id
    )
    SELECT qid, doc_id, bm25_rank, vec_rank, rrf_score FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY rrf_score DESC, doc_id) AS rn
      FROM fused) WHERE rn <= {k}
    """


@_register("hybrid_search_batch", _hybrid_batch_sql())
def q_hybrid_search_batch(spark, sf_dir):
    """Batch hybrid retrieval: 3 (text, vector) queries fused by RRF in
    one plan — qid aligns with vec_id (testdata doc_id == vec_id), the
    vector leg takes the matching stored embeddings as query vectors."""
    qtexts = spark.createDataFrame(
        _HYBRID_BATCH_QUERIES, "qid long, query string"
    )
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.hybrid_search_rrf_batch(
        _t(spark, sf_dir, "documents"), emb, qtexts.join(qv, "qid"), k=10
    )


def _lsh_curve_sql() -> str:
    """Oracle mirror of lsh_tuning_curve: same configs, same
    fixed-order multiplication chains (j*j*... instead of pow)."""
    parts = []
    for n_perm in (16, 32):
        for r in (2, 4):
            if n_perm % r:
                continue
            b = n_perm // r
            s_r = " * ".join(["j"] * r)
            miss_b = " * ".join([f"(1.0 - ({s_r}))"] * b)
            parts.append(f"""
    SELECT {n_perm} AS n_perm, {r} AS band_size, {b} AS n_bands,
           round(j, 2) AS jaccard,
           round(1.0 - ({miss_b}), 6) AS p_candidate
    FROM (SELECT i::DOUBLE * 0.05 AS j
          FROM (SELECT unnest(generate_series(1, 19)) AS i))""")
    return " UNION ALL ".join(parts)


@_register("lsh_tuning_curve", _lsh_curve_sql())
def q_lsh_tuning_curve(spark, sf_dir):
    """The banding design table (p = 1 - (1 - s^r)^b) the BAND_SIZE
    retune reads; cross-check the measured dedup_lsh_eval recall
    against the analytic candidate probability at the threshold."""
    return _dedup.lsh_tuning_curve(spark)


from data_pipeline2_spark.operators import multimodal  # noqa: E402


@_register(
    "multimodal_audio_resample",
    """
    WITH params AS (
      SELECT doc_id AS asset_id,
             500 + (doc_id % 41) * 250 AS n,
             8 + doc_id % 32 AS p,
             200 + doc_id % 56 AS high,
             doc_id % 100 AS low,
             2 + doc_id % 3 AS d
      FROM documents WHERE doc_id < 200
    ), idx AS (
      SELECT asset_id, p, high, low, d,
             unnest(generate_series(0, (n - 1) // d)) AS k
      FROM params
    ), vals AS (
      SELECT asset_id, d, k,
             CASE WHEN ((k * d) // p) % 2 = 0 THEN high ELSE low END AS v,
             CASE WHEN k = 0 THEN NULL
                  WHEN (((k - 1) * d) // p) % 2 = 0 THEN high ELSE low
             END AS prev_v
      FROM idx
    )
    SELECT asset_id, CAST(max(d) AS INT) AS decim,
           count(*)::BIGINT AS n_samples,
           CAST(1000 // max(d) AS INT) AS sample_rate,
           sum(v)::BIGINT AS sum_samples,
           sum(v * v)::BIGINT AS sum_squares,
           sum(CASE WHEN prev_v IS NOT NULL AND v <> prev_v
                    THEN 1 ELSE 0 END)::BIGINT AS transitions
    FROM vals GROUP BY asset_id
    """,
)
def q_multimodal_audio_resample(spark, sf_dir):
    """REAL decode→decimate→re-encode→re-decode WAV roundtrip; the
    oracle replays the decimated square wave in closed form per index,
    so a bug anywhere in the chain (incl. the new encoder) hash-fails."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return multimodal.audio_resample_stats(docs)


from data_pipeline2_spark.operators import sampling  # noqa: E402

_MIX_WEIGHTS = {"src0": 5, "src1": 3, "src2": 2}
_MIX_BUDGET = 30_000


@_register(
    "mix_token_allocation",
    f"""
    WITH avail AS (
      SELECT source,
             sum(CASE WHEN len(trim(text, ' ')) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text, ' '), '\\s+'))
                 END)::BIGINT AS available_tokens
      FROM documents WHERE text IS NOT NULL GROUP BY source
    ), w AS (
      SELECT * FROM (VALUES ('src0', {_MIX_BUDGET} * 5 // 10),
                            ('src1', {_MIX_BUDGET} * 3 // 10),
                            ('src2', {_MIX_BUDGET} * 2 // 10))
             v(source, target_tokens)
    )
    SELECT source,
           coalesce(a.available_tokens, 0)::BIGINT AS available_tokens,
           coalesce(w.target_tokens, 0)::BIGINT AS target_tokens,
           least(coalesce(a.available_tokens, 0),
                 coalesce(w.target_tokens, 0))::BIGINT AS alloc_tokens,
           coalesce(a.available_tokens, 0) >= coalesce(w.target_tokens, 0)
             AS satisfied
    FROM avail a FULL JOIN w USING (source)
    """,
)
def q_mix_token_allocation(spark, sf_dir):
    """Epoch planning: split a 30k-token budget 5:3:2 across three
    weighted sources (the rest weight 0), capped by availability —
    unsatisfied rows are the re-weight signal."""
    return sampling.mix_token_allocation(
        _t(spark, sf_dir, "documents"), _MIX_WEIGHTS, _MIX_BUDGET
    )
