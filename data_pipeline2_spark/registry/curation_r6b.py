"""Round-6 second batch: reference-parity closures and evaluation
operators.

- `events_rate_limit` closes the last reference knob with no engine
  analog (API_RATE_LIMIT, reference .env.example:45 — 100 req/min per
  client) as replayable fixed-window admission semantics.
- `retrieval_metrics` is the recall@k / MRR@k harness for the ANN
  stack — the measurement you run before trading the exact scorer for
  the LSH/IVF/PQ scale paths.
- `text_normalize` is the NFC + whitespace canonical-form pass that
  must precede hash dedup (combining-sequence variants of the same
  text hash differently without it).
- `agg_higher_moments`, `ntile_segments`, `events_resample_ohlc`
  complete the statistics surface (skew/kurtosis from exact integer
  power sums, quantile segmentation, OHLC time-series resampling).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline2_spark.operators import (
    aggregates,
    dedup,
    lifecycle,
    quality,
    similarity,
    textanalysis,
)
from data_pipeline2_spark.registry._core import _cos_sql, _register, _t
from data_pipeline2_spark.operators.quality import _LOGPROB_SCALE
from data_pipeline2_spark.registry.analytics_ext import _TOKS_SH_CTES

# ---------------------------------------------------------------- rate
# limiting (reference .env.example:45)


@_register(
    "events_rate_limit",
    """
    WITH f AS (
      SELECT user_id, date_trunc('minute', ts) AS w,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('minute', ts)
               ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN rn <= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rejected,
           CAST(count(DISTINCT CASE WHEN rn > 1 THEN w END) AS BIGINT)
             AS n_limited_windows
    FROM f GROUP BY user_id
    """,
)
def q_events_rate_limit(spark, sf_dir):
    """Fixed-window admission control, cap=1/minute per user (the
    driver-SF analog of the reference's 100 req/min — testdata peaks at
    2 events per user-minute, so cap=1 exercises real rejections)."""
    return lifecycle.rate_limit_admission(
        _t(spark, sf_dir, "events"), cap=1, bucket="minute"
    )


# ---------------------------------------------------------------- retrieval
# evaluation


# shared recall@k / MRR@k oracle chain, parameterized by the embedding
# source (full-width vs truncated) so the two keys that are meant to be
# DIFFED against each other can never drift apart (r6 review fix)
def _retrieval_sql(src: str, k: int = 10) -> str:
    return f"""
    WITH emb AS ({src}),
    q AS (
      SELECT label AS qlabel, min(vec_id) AS qid FROM emb GROUP BY label
    ), qv AS (
      SELECT q.qid, q.qlabel, e.embedding AS qvec
      FROM q JOIN emb e ON e.vec_id = q.qid
    ), s AS (
      SELECT qv.qid, qv.qlabel, e.vec_id,
             CASE WHEN e.label = qv.qlabel THEN 1 ELSE 0 END AS rel,
             round({_cos_sql('e.embedding', 'qv.qvec')}, 6) AS score
      FROM emb e CROSS JOIN qv
      WHERE e.vec_id <> qv.qid
    ), r AS (
      SELECT qid, qlabel, rel,
             row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
      FROM s
    ), t AS (SELECT * FROM r WHERE rank <= {k}),
    pq AS (
      SELECT qid, qlabel,
             CAST(sum(rel) AS BIGINT) AS hits_at_k,
             min(CASE WHEN rel = 1 THEN rank END) AS frr
      FROM t GROUP BY qid, qlabel
    ), rc AS (
      SELECT label AS qlabel, CAST(count(*) - 1 AS BIGINT) AS n_relevant
      FROM emb GROUP BY label
    )
    SELECT pq.qid, pq.qlabel, rc.n_relevant, pq.hits_at_k,
           round(pq.hits_at_k / greatest(rc.n_relevant, 1), 6)
             AS recall_at_k,
           CAST(coalesce(pq.frr, 0) AS INT) AS first_rel_rank,
           round(CASE WHEN pq.frr IS NOT NULL THEN 1.0 / pq.frr
                      ELSE 0.0 END, 6) AS mrr_at_k
    FROM pq JOIN rc USING (qlabel)
    """


@_register(
    "retrieval_metrics",
    _retrieval_sql("SELECT vec_id, embedding, label FROM embeddings"),
)
def q_retrieval_metrics(spark, sf_dir):
    """recall@10 / MRR@10 of exact cosine retrieval against label
    ground truth, one query per label (lowest vec_id)."""
    return similarity.retrieval_eval(_t(spark, sf_dir, "embeddings"), k=10)


# ---------------------------------------------------------------- unicode
# normalization

# Every doc gets a deterministic non-NFC suffix (combining acute +
# NBSP), so the pass provably changes bytes and the md5 check verifies
# the exact normalized form cross-engine.
_NORM_SUFFIX_SQL = "' Cafe' || chr(769) || chr(160) || 'x'"
_NORM_WS_CLASS = "'[ \\t\\r\\n\\f' || chr(160) || ']+'"


@_register(
    "text_normalize",
    f"""
    WITH fx AS (
      SELECT doc_id, text || {_NORM_SUFFIX_SQL} AS raw FROM documents
    ), n AS (
      SELECT doc_id, raw,
             trim(regexp_replace(nfc_normalize(raw),
                                 {_NORM_WS_CLASS}, ' ', 'g'), ' ') AS norm
      FROM fx
    )
    SELECT doc_id,
           CAST(length(raw) AS INT) AS n_raw,
           CAST(length(norm) AS INT) AS n_norm,
           norm <> raw AS changed,
           md5(norm) AS norm_md5
    FROM n
    """,
)
def q_text_normalize(spark, sf_dir):
    """NFC + whitespace canonicalization report with md5 value check
    of the normalized bytes (pandas_udf vs DuckDB nfc_normalize)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" Cafe\u0301\u00a0x")).alias("text"),
    )
    return textanalysis.normalize_text_report(docs)


# ---------------------------------------------------------------- moments /
# segmentation / resampling


@_register(
    "agg_higher_moments",
    """
    WITH v AS (
      SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS q
      FROM lineitem
    ), a AS (
      SELECT l_returnflag,
             CAST(count(q) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s1,
             CAST(sum(q * q) AS BIGINT) AS s2,
             CAST(sum(q * q * q) AS BIGINT) AS s3,
             CAST(sum(q * q * q * q) AS BIGINT) AS s4,
             quantile_cont(q, 0.5) AS med
      FROM v GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(med, 6) AS median,
           round(s1 / cn, 6) AS mean,
           round(sqrt(greatest(s2 / cn - (s1 / cn) * (s1 / cn), 0.0)), 6)
             AS stddev_pop,
           CASE WHEN (s2 / cn - (s1 / cn) * (s1 / cn))
                > 1e-12 * ((s1 / cn) * (s1 / cn) + 1.0) THEN
             round((s3 / cn - 3.0 * (s1 / cn) * (s2 / cn)
                    + 2.0 * (s1 / cn) * (s1 / cn) * (s1 / cn))
                   / pow(s2 / cn - (s1 / cn) * (s1 / cn), 1.5), 6)
           END AS skewness,
           CASE WHEN (s2 / cn - (s1 / cn) * (s1 / cn))
                > 1e-12 * ((s1 / cn) * (s1 / cn) + 1.0) THEN
             round((s4 / cn - 4.0 * (s1 / cn) * (s3 / cn)
                    + 6.0 * (s1 / cn) * (s1 / cn) * (s2 / cn)
                    - 3.0 * (s1 / cn) * (s1 / cn) * (s1 / cn) * (s1 / cn))
                   / ((s2 / cn - (s1 / cn) * (s1 / cn))
                      * (s2 / cn - (s1 / cn) * (s1 / cn))) - 3.0, 6)
           END AS exkurtosis
    FROM (SELECT *, CAST(n AS DOUBLE) AS cn FROM a)
    """,
)
def q_agg_higher_moments(spark, sf_dir):
    """Median / stddev / skewness / excess kurtosis of l_quantity per
    returnflag from exact integer power sums (engine-portable by
    construction — no builtin moment aggregates)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.floor(F.col("l_quantity")).alias("l_quantity")
    )
    return aggregates.higher_moments(li, "l_returnflag", "l_quantity")


@_register(
    "ntile_segments",
    """
    WITH w AS (
      SELECT c_mktsegment, c_acctbal,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal, c_custkey) AS quartile,
             percent_rank() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS pr,
             cume_dist() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey) AS cd
      FROM customer
    )
    SELECT c_mktsegment, CAST(quartile AS INT) AS quartile,
           CAST(count(*) AS BIGINT) AS n,
           min(c_acctbal) AS bal_min,
           max(c_acctbal) AS bal_max,
           round(max(pr), 6) AS pr_max,
           round(max(cd), 6) AS cd_max,
           CAST(sum(CAST(c_acctbal AS DECIMAL(25, 2))) AS DOUBLE)
             AS bal_sum
    FROM w GROUP BY c_mktsegment, quartile
    """,
)
def q_ntile_segments(spark, sf_dir):
    """Account-balance quartiles per market segment: ntile(4) +
    percent_rank/cume_dist boundaries. The window partitions on
    c_mktsegment — quantile segmentation parallelizes across segments,
    never a single global-order task."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal"), F.col("c_custkey")
    )
    seg = cust.select(
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return seg.groupBy("c_mktsegment", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c_acctbal").alias("bal_min"),
        F.max("c_acctbal").alias("bal_max"),
        F.round(F.max("pr"), 6).alias("pr_max"),
        F.round(F.max("cd"), 6).alias("cd_max"),
        aggregates.exact_sum(F.col("c_acctbal")).alias("bal_sum"),
    )


@_register(
    "events_resample_ohlc",
    """
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 300.0) AS BIGINT) * 300 AS bucket_s,
             struct_pack(t := ts, i := event_id, v := value) AS tiv,
             value AS v
      FROM events
    )
    SELECT event_type, bucket_s,
           (min(tiv)).v AS open,
           max(v) AS high,
           min(v) AS low,
           (max(tiv)).v AS close,
           CAST(count(*) AS BIGINT) AS volume,
           CAST(sum(CAST(v AS DECIMAL(25, 6))) AS DOUBLE) AS value_sum
    FROM b GROUP BY event_type, bucket_s
    """,
)
def q_events_resample_ohlc(spark, sf_dir):
    """5-minute OHLC resample of the event stream per event_type —
    open/close via struct-ordered min/max accumulators (one hash agg,
    no window)."""
    return aggregates.resample_ohlc(
        _t(spark, sf_dir, "events"), interval_sec=300
    )


# ---------------------------------------------------------------- fuzzy
# join / seasonality

# deletion-1 neighborhood (word itself + every single-char deletion) —
# the oracle replays the identical variant generation
_VARS_SQL = """
  SELECT w, w AS v FROM {src}
  UNION ALL
  SELECT w, substr(w, 1, i - 1) || substr(w, i + 1, length(w) - i) AS v
  FROM {src}, LATERAL unnest(generate_series(1, length(w))) AS t(i)
"""


@_register(
    "fuzzy_join_ed1",
    f"""
    WITH words AS (
      SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS w
      FROM documents WHERE text IS NOT NULL
    ), clean AS (
      SELECT w FROM words
      WHERE length(w) >= 4 AND regexp_matches(w, '^[a-z]+$')
    ), dirty AS (
      SELECT DISTINCT substr(w, 1, 2) || substr(w, 4, length(w) - 3) AS w
      FROM clean WHERE length(w) >= 5
    ), lv AS ({_VARS_SQL.format(src='dirty')}),
    rv AS ({_VARS_SQL.format(src='clean')}),
    cand AS (
      SELECT DISTINCT lv.w AS w1, rv.w AS w2
      FROM lv JOIN rv ON lv.v = rv.v
    )
    SELECT w1, w2, CAST(levenshtein(w1, w2) AS INT) AS dist
    FROM cand WHERE levenshtein(w1, w2) <= 1
    """,
)
def q_fuzzy_join_ed1(spark, sf_dir):
    """FastSS edit-distance-1 join of a deterministically-derived dirty
    vocabulary (3rd-char-deletion typos) against the clean corpus
    vocabulary — complete-recall candidate generation via the
    deletion-neighborhood equi-join, exact levenshtein verify."""
    docs = _t(spark, sf_dir, "documents")
    clean = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(
            (F.length("w") >= 4) & F.col("w").rlike("^[a-z]+$")
        )
        .distinct()
    )
    dirty = (
        clean.filter(F.length("w") >= 5)
        .select(
            F.concat(
                F.expr("substring(w, 1, 2)"),
                F.expr("substring(w, 4, length(w) - 3)"),
            ).alias("w")
        )
        .distinct()
    )
    return dedup.fuzzy_join_ed1(dirty, clean)


@_register(
    "events_seasonal_baseline",
    """
    WITH per_hod AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hod,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(25, 6))) AS DOUBLE) AS hsum
      FROM events GROUP BY event_type, hour(ts)
    ), overall AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS onn,
             CAST(sum(CAST(value AS DECIMAL(25, 6))) AS DOUBLE) AS osum
      FROM events GROUP BY event_type
    )
    SELECT p.event_type, p.hod, p.n,
           round(p.hsum / p.n, 6) AS hod_mean,
           round(o.osum / o.onn, 6) AS overall_mean,
           round((p.hsum / p.n) / (o.osum / o.onn), 6) AS ratio,
           (p.hsum / p.n) > (o.osum / o.onn) AS is_peak
    FROM per_hod p JOIN overall o USING (event_type)
    """,
)
def q_events_seasonal_baseline(spark, sf_dir):
    """Hour-of-day seasonal profile per event type (bucket mean vs
    overall mean, peak flag) — the baseline table the outlier keys
    subtract; O(groups x 24) output at any corpus size."""
    return aggregates.seasonal_baseline(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------- topic
# exploration (kmeans x term-lift composition)


def _topic_terms_sql(k: int = 8, n_iter: int = 2, top_n: int = 5) -> str:
    from data_pipeline2_spark.registry.curation_r5 import _WS_LOWER
    from data_pipeline2_spark.registry.vector_partsupp import (
        _kmeans_cte_parts,
    )

    parts, _ = _kmeans_cte_parts(k, n_iter, 64)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
    toks AS (
      SELECT af.cluster, unnest({_WS_LOWER}) AS w
      FROM documents d JOIN af ON af.vec_id = d.doc_id
      WHERE d.text IS NOT NULL
    ), cw AS (
      SELECT cluster, w, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY cluster, w
    ), ctot AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS ct
      FROM toks GROUP BY cluster
    ), wtot AS (
      SELECT w, CAST(count(*) AS BIGINT) AS wt FROM toks GROUP BY w
    ), gtot AS (SELECT CAST(count(*) AS BIGINT) AS gt FROM toks),
    scored AS (
      SELECT cw.cluster, cw.w, cw.cnt,
             round((cw.cnt / ctot.ct) / (wtot.wt / gtot.gt), 6) AS lift
      FROM cw JOIN ctot USING (cluster) JOIN wtot USING (w)
      CROSS JOIN gtot
    ), r AS (
      SELECT cluster, w, cnt, lift,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY lift DESC, cnt DESC, w) AS rank
      FROM scored)
    SELECT CAST(cluster AS INT) AS cluster, CAST(rank AS INT) AS rank,
           w, cnt, lift
    FROM r WHERE rank <= {top_n}
    """
    )


@_register("topic_cluster_terms", _topic_terms_sql())
def q_topic_cluster_terms(spark, sf_dir):
    """Embedding k-means clusters labeled with their top-5 terms by
    lift (within-cluster vs corpus-wide frequency) — the corpus
    exploration composite: deterministic distributed fit, token aggs,
    broadcast joins, windowed top-n; the DuckDB oracle replays the
    whole trajectory including the identical centroid walk."""
    return similarity.topic_cluster_terms(
        _t(spark, sf_dir, "embeddings"),
        _t(spark, sf_dir, "documents"),
        k=8,
        n_iter=2,
        top_n=5,
    )


# ---------------------------------------------------------------- MRL
# truncation eval (dimension-reduction trade-off, measured in-plan)


@_register(
    "retrieval_metrics_mrl16",
    _retrieval_sql("SELECT vec_id, embedding[1:16] AS embedding, label FROM embeddings"),
)
def q_retrieval_metrics_mrl16(spark, sf_dir):
    """Matryoshka-style truncation eval: the SAME retrieval metrics
    computed over only the first 16 of 64 embedding dimensions —
    diffing this against `retrieval_metrics` measures, in-plan, exactly
    what recall a 4x storage/compute cut costs (cosine needs no
    re-normalization; the norms change, the ranking math doesn't)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding"), "label"
    )
    return similarity.retrieval_eval(emb, k=10)


@_register(
    "winsorized_stats",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi
      FROM events GROUP BY event_type
    ), c AS (
      SELECT e.event_type, e.value AS v, b.p_lo, b.p_hi,
             least(greatest(e.value, b.p_lo), b.p_hi) AS w
      FROM events e JOIN b USING (event_type)
    ), a AS (
      SELECT event_type, p_lo, p_hi,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(w AS DECIMAL(32, 6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(w * w AS DECIMAL(32, 6))) AS DOUBLE) AS s2,
             CAST(sum(CASE WHEN v < p_lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_lo,
             CAST(sum(CASE WHEN v > p_hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_hi
      FROM c GROUP BY event_type, p_lo, p_hi
    )
    SELECT event_type, n,
           round(p_lo, 6) AS p_lo,
           round(p_hi, 6) AS p_hi,
           round(s1 / n, 6) AS wins_mean,
           round(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)), 6)
             AS wins_stddev,
           n_clipped_lo, n_clipped_hi
    FROM a
    """,
)
def q_winsorized_stats(spark, sf_dir):
    """Winsorized (p05/p95-clipped) mean and stddev of event values per
    type with clip counts — the robust-stats complement to
    agg_higher_moments; bounds from exact percentiles, moments from
    exact decimal sums of the clipped values."""
    return aggregates.winsorized_stats(
        _t(spark, sf_dir, "events"), "event_type", "value"
    )


# ---------------------------------------------------------------- corpus
# novelty / bigram LM


@_register(
    "ngram_novelty",
    f"""
    WITH {_TOKS_SH_CTES},
    fp AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS sh64
      FROM sh
    ), first AS (
      SELECT sh64, min(doc_id) AS first_doc FROM fp GROUP BY sh64
    ), agg AS (
      SELECT f.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN fi.first_doc = f.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM fp f JOIN first fi USING (sh64) GROUP BY f.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           round(n_novel / n_shingles, 6) AS novelty
    FROM agg
    """,
)
def q_ngram_novelty(spark, sf_dir):
    """Per-doc fraction of 3-gram shingle fingerprints first seen at
    this doc (arrival order = doc_id) — the Lee-et-al memorization
    signal as a curation metric; novelty ~ 0 = stitched boilerplate."""
    return quality.ngram_novelty(_t(spark, sf_dir, "documents"))


@_register(
    "bigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '\\s+') AS ws
      FROM documents WHERE len(trim(text, ' ')) > 0
    ), flat AS (
      SELECT doc_id, unnest(ws) AS w1 FROM toks
    ), uni AS (SELECT w1, count(*) AS c1 FROM flat GROUP BY w1),
    bg AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
            FROM toks WHERE len(ws) >= 2)
    ), big AS (
      SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
    ), terms AS (
      SELECT g.doc_id,
             CAST(floor(ln(b.c2::DOUBLE / u.c1::DOUBLE)
                        * {float(_LOGPROB_SCALE)}) AS BIGINT) AS term
      FROM bg g JOIN big b USING (w1, w2) JOIN uni u USING (w1)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(term) AS BIGINT) AS logprob_sum_scaled,
           round(sum(term) / {float(_LOGPROB_SCALE)} / count(*), 6)
             AS avg_logprob
    FROM terms GROUP BY doc_id
    """,
)
def q_bigram_logprob(spark, sf_dir):
    """Average bigram conditional log-prob per doc (unsmoothed KenLM-
    style depth upgrade of unigram_logprob; floor-integerized terms
    keep the log-sum associative and partition-order-free)."""
    return quality.bigram_logprob(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------- Spark 4
# VariantType semi-structured path


@_register(
    "events_variant_agg",
    """
    WITH kx AS (
      SELECT event_type,
             TRY_CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS INT)
               AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS k_sum,
           CAST(min(k) AS INT) AS k_min,
           CAST(max(k) AS INT) AS k_max,
           CAST(count(DISTINCT k) AS BIGINT) AS k_distinct
    FROM kx GROUP BY event_type
    """,
)
def q_events_variant_agg(spark, sf_dir):
    """Semi-structured aggregation through Spark 4's VariantType:
    parse_json once into the binary variant encoding, variant_get the
    typed field, aggregate — the engine's modern replacement for
    repeated get_json_object string re-parsing (reference metadata is
    free-form Dict[str, Any], models/document.py:21). At lake scale the
    variant column is what you PERSIST (parse on ingest, shredded
    storage prunes paths); this key proves the extraction semantics
    against a JSON-path oracle.

    try_parse_json + try_variant_get, NOT the strict forms: parse_json
    is FAILFAST and variant_get errors on a type-mismatched value, so
    ONE malformed log line ('{broken') or one '{"k": "oops"}' aborts
    the whole 100 TB job — measured before fixing. Bad rows read NULL
    k (null-skipped by the aggregates, n still counts them); the dirty
    lake injects exactly these classes and the gate pins the parity."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count_distinct(F.col("k")).alias("k_distinct"),
        )
    )


# ---------------------------------------------------------------- entropy /
# sparse similarity


@_register(
    "events_type_entropy",
    f"""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type
    ), totals AS (
      SELECT user_id, sum(cnt) AS total, count(*) AS n_cats
      FROM counts GROUP BY user_id
    ), terms AS (
      SELECT c.user_id, t.total, t.n_cats,
             c.cnt * CAST(floor(ln(c.cnt::DOUBLE / t.total::DOUBLE)
                                * {float(_LOGPROB_SCALE)}) AS BIGINT) AS term
      FROM counts c JOIN totals t USING (user_id)
    )
    SELECT user_id,
           CAST(total AS BIGINT) AS n_events,
           CAST(n_cats AS BIGINT) AS n_cats,
           round(-(sum(term) / {float(_LOGPROB_SCALE)}) / total, 6)
             AS entropy
    FROM terms GROUP BY user_id, total, n_cats
    """,
)
def q_events_type_entropy(spark, sf_dir):
    """Per-user Shannon entropy of the event-type mix (0 = single-type
    bot, ln(n_types) = uniform) — floor-integerized log terms keep the
    entropy sum associative and partition-order-free."""
    return aggregates.distribution_entropy(
        _t(spark, sf_dir, "events"), "user_id", "event_type"
    )


@_register(
    "sparse_cosine_topk",
    """
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(CASE WHEN len(trim(text, ' ')) = 0 THEN []
                    ELSE regexp_split_to_array(trim(lower(text), ' '), '\\s+')
                    END) AS w
      FROM documents WHERE text IS NOT NULL
    ), tf0 AS (
      SELECT doc, w, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc, w
    ), nd AS (
      SELECT count(*) AS n FROM documents WHERE text IS NOT NULL
    ), dfq AS (
      SELECT w, count(*) AS dfc FROM tf0 GROUP BY w
    ), tf AS (
      SELECT tf0.doc, tf0.w, tf0.tf
      FROM tf0 JOIN dfq USING (w) CROSS JOIN nd
      WHERE dfc <= least(n * 0.1, 2000.0)
    ), norms AS (
      SELECT doc, sum(tf * tf) AS sq FROM tf GROUP BY doc
    ), dots AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b,
             CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
      FROM tf a JOIN tf b USING (w)
      WHERE a.doc < b.doc
      GROUP BY a.doc, b.doc
    ), sym AS (
      SELECT doc_a, doc_b, dot FROM dots
      UNION ALL
      SELECT doc_b AS doc_a, doc_a AS doc_b, dot FROM dots
    ), scored AS (
      SELECT d.doc_a, d.doc_b,
             round(d.dot / (sqrt(na.sq::DOUBLE) * sqrt(nb.sq::DOUBLE)), 6)
               AS score
      FROM sym d JOIN norms na ON na.doc = d.doc_a
                 JOIN norms nb ON nb.doc = d.doc_b
    ), r AS (
      SELECT doc_a, doc_b, score,
             row_number() OVER (
               PARTITION BY doc_a ORDER BY score DESC, doc_b) AS rank
      FROM scored)
    SELECT doc_a, CAST(rank AS INT) AS rank, doc_b, score
    FROM r WHERE rank <= 5
    """,
)
def q_sparse_cosine_topk(spark, sf_dir):
    """Inverted-index TF-cosine document similarity, top-5 neighbors
    per doc — exact integer dot products through the posting-list
    self-join; the sparse complement to the embedding kNN stack.

    r7 (VERDICT r6 item 2): exported with df_cap=0.1 AND an absolute
    cap of 2000 — the stopword prune that bounds the posting self-join
    (a term in d docs emits d² pairs). The absolute arm closes the
    hole the x10 run measured: over heterogeneous sub-corpora a
    relative cap never binds (no term reaches 10% of the merged corpus
    while per-shard stopwords keep df ~ shard size). The oracle
    mirrors the identical least(n·frac, abs) filter; at the driver's
    sf0.01 the absolute arm is inactive (50 < 2000), so values are
    unchanged."""
    return similarity.sparse_cosine_topk(
        _t(spark, sf_dir, "documents"), k=5, df_cap=0.1, df_cap_abs=2000
    )


@_register(
    "ngram_novelty_incremental",
    f"""
    WITH {_TOKS_SH_CTES},
    fp AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS sh64
      FROM sh
    ), store AS (
      SELECT DISTINCT sh64 FROM fp WHERE doc_id < 400
    ), newfp AS (
      SELECT doc_id, sh64 FROM fp WHERE doc_id >= 400
    )
    SELECT n.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN s.sh64 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(sum(CASE WHEN s.sh64 IS NULL THEN 1 ELSE 0 END)
                 / count(*), 6) AS novelty
    FROM newfp n LEFT JOIN store s USING (sh64)
    GROUP BY n.doc_id
    """,
)
def q_ngram_novelty_incremental(spark, sf_dir):
    """Arriving batch (doc_id >= 400) scored against the fingerprint
    store of doc_id < 400 (the dedup_near_incremental split
    convention) — novelty without re-reading historical text."""
    docs = _t(spark, sf_dir, "documents")
    from data_pipeline2_spark.operators.dedup import shingle_fingerprints

    store_fp = shingle_fingerprints(docs.filter(F.col("doc_id") < 400)).select(
        "sh64"
    )
    return quality.ngram_novelty_vs_store(
        docs.filter(F.col("doc_id") >= 400), store_fp
    )
