"""Registry part-module — see registry/__init__.py."""

from __future__ import annotations

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from data_pipeline2_spark.operators import (
    aggregates,
    chunking,
    embedding,
    lifecycle,
    multimodal,
    relational,
    similarity,
)
from data_pipeline2_spark.operators.cache import ttl_filter
from data_pipeline2_spark.registry._core import (
    _cos_sql,
    _register,
    _t,
)
from data_pipeline2_spark.streaming import events as ev

from data_pipeline2_spark.registry.ingest_chunk import (  # noqa: F401
    _knn_query_vec,
    _python_units_sql,
    _slices_sql,
)

@_register(
    "multimodal_meta",
    """
    SELECT doc_id AS asset_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                           ELSE 'video' END AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha
    FROM documents
    """,
)
def q_multimodal_meta(spark, sf_dir):
    assets = multimodal.documents_as_assets(_t(spark, sf_dir, "documents"))
    return multimodal.asset_meta(assets)


# ===================================================== lifecycle + events
# (§2.9) — batch expressions of the streaming surface


@_register(
    "events_tumbling",
    """
    SELECT date_trunc('hour', ts) AS w_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
           event_type, count(*) AS events,
           CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q_events_tumbling(spark, sf_dir):
    return ev.tumbling_counts(_t(spark, sf_dir, "events"))


@_register(
    "events_funnel",
    """
    WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
    SELECT CAST(1 AS INT) AS step_no, 'view' AS step, count(*) AS users FROM s1
    UNION ALL
    SELECT CAST(2 AS INT), 'click', count(*) FROM s2
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', count(*) FROM s3
    """,
)
def q_events_funnel(spark, sf_dir):
    return ev.funnel(_t(spark, sf_dir, "events"))


@_register(
    "events_retention",
    """
    WITH fs AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
                FROM events GROUP BY user_id),
    aw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
           FROM events)
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, active_week) / 7 AS INT) AS week_offset,
           count(*) AS users
    FROM aw JOIN fs ON aw.user_id = fs.user_id
    GROUP BY cohort_week,
             CAST(datediff('day', cohort_week, active_week) / 7 AS INT)
    ORDER BY cohort_week, week_offset
    """,
)
def q_events_retention(spark, sf_dir):
    return ev.retention_cohorts(_t(spark, sf_dir, "events"))


@_register(
    "events_gap_fill",
    """
    WITH s AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
          FROM s GROUP BY 1),
    grid AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM b
    ),
    j AS (
      SELECT g.event_type, g.bucket, s.total AS v,
             (s.bucket IS NULL) AS is_gap
      FROM grid g LEFT JOIN s
        ON s.event_type = g.event_type AND s.bucket = g.bucket
    ),
    r AS (
      SELECT *, count(v) OVER (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM j
    )
    SELECT event_type, bucket, v AS total, is_gap,
           max(v) OVER (PARTITION BY event_type, grp) AS total_locf
    FROM r
    """,
)
def q_events_gap_fill(spark, sf_dir):
    """Hourly per-type totals gap-filled across each type's span (the
    testdata really has gaps: sparse types cover ~25% of hours)."""
    e = _t(spark, sf_dir, "events")
    series = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(aggregates.exact_sum(F.col("value")).alias("total"))
    return aggregates.gap_fill(
        series, ["event_type"], bucket_col="bucket", value_col="total"
    )


@_register(
    "events_transitions",
    """
    SELECT from_type, to_type, count(*) AS transitions
    FROM (SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS to_type
          FROM events)
    WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY from_type, to_type
    """,
)
def q_events_transitions(spark, sf_dir):
    return lifecycle.event_transitions(_t(spark, sf_dir, "events"))


_ATTRIBUTION_PAIRS_SQL = """
    SELECT c.user_id,
           c.event_id AS cause_id,
           e.event_id AS effect_id,
           CAST(epoch_us(e.ts) - epoch_us(c.ts) AS BIGINT) AS delay_us
    FROM events c
    JOIN events e
      ON c.user_id = e.user_id
     AND e.ts > c.ts
     AND e.ts <= c.ts + INTERVAL 12 HOUR
    WHERE c.event_type = 'view' AND e.event_type = 'click'
    """


@_register("events_attribution", _ATTRIBUTION_PAIRS_SQL)
def q_events_attribution(spark, sf_dir):
    """View→click interval self-join (all in-window pairs). The same
    DataFrame expression runs as a STREAM-STREAM interval join when
    both sides are watermarked (streaming/events.py:attribution_pairs;
    stream/batch parity in tests/test_streaming.py) — the range bound
    is what lets Spark evict join state past watermark + max_delay."""
    return ev.attribution_pairs(_t(spark, sf_dir, "events"), max_delay="12 hours")


@_register(
    "events_attribution_last",
    f"""
    WITH pairs AS ({_ATTRIBUTION_PAIRS_SQL})
    SELECT user_id, cause_id, effect_id, delay_us
    FROM (SELECT *, row_number() OVER (PARTITION BY effect_id
                                       ORDER BY delay_us ASC, cause_id DESC)
                    AS rn
          FROM pairs)
    WHERE rn = 1
    """,
)
def q_events_attribution_last(spark, sf_dir):
    """Last-touch attribution: each click credited to its latest
    in-window view (deterministic tie-break on cause_id)."""
    return ev.attribution_last_touch(_t(spark, sf_dir, "events"), max_delay="12 hours")


@_register(
    "scd2_history",
    """
    SELECT user_id, event_id, event_type,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_history(spark, sf_dir):
    """Events as a change log: each user's stream becomes a type-2
    validity-range history (valid_from/valid_to/is_current)."""
    return lifecycle.scd2_history(
        _t(spark, sf_dir, "events"),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_id", "event_type"],
        tiebreak_cols=["event_id"],
    )


@_register(
    "events_sliding",
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS w_start,
           event_type, count(*) AS events
    FROM (SELECT ts, event_type, unnest(generate_series(0, 3)) AS k FROM events)
    GROUP BY 1, 2
    """,
)
def q_events_sliding(spark, sf_dir):
    return ev.sliding_counts(_t(spark, sf_dir, "events"))


@_register(
    "events_session",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL '30 minutes' AS s_end,
           count(*) AS events,
           CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_events_session(spark, sf_dir):
    return ev.session_counts(_t(spark, sf_dir, "events"))


@_register(
    "status_lifecycle",
    """
    SELECT user_id, event_id, event_type, ts FROM (
      SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def q_status_lifecycle(spark, sf_dir):
    evt = _t(spark, sf_dir, "events")
    latest = relational.latest_state(
        evt, ["user_id"], [F.desc("ts"), F.desc("event_id")]
    )
    return latest.select("user_id", "event_id", "event_type", "ts")


@_register(
    "cache_ttl_filter",
    """
    SELECT event_id, ts FROM events
    WHERE ts + INTERVAL 3600 SECOND > TIMESTAMP '2024-01-30 12:00:00'
    """,
)
def q_cache_ttl_filter(spark, sf_dir):
    evt = _t(spark, sf_dir, "events")
    return ttl_filter(evt, "ts", 3600, "2024-01-30 12:00:00").select(
        "event_id", "ts"
    )


@_register(
    "job_stats",
    """
    SELECT event_type AS job_type,
           CASE WHEN value >= 10 THEN 'completed' ELSE 'pending' END AS status,
           count(*) AS jobs,
           round(CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) / count(*), 6) AS avg_progress,
           CAST(sum(user_id) AS BIGINT) AS processed_items
    FROM events GROUP BY 1, 2
    """,
)
def q_job_stats(spark, sf_dir):
    evt = _t(spark, sf_dir, "events")
    jobs = evt.select(
        F.col("event_type").alias("job_type"),
        F.when(F.col("value") >= 10, "completed").otherwise("pending").alias("status"),
        F.col("value").alias("progress"),
        F.col("user_id").alias("processed_items"),
    )
    return jobs.groupBy("job_type", "status").agg(
        F.count(F.lit(1)).alias("jobs"),
        F.round(
            F.sum(F.col("progress").cast("decimal(25,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_progress"),
        F.sum("processed_items").alias("processed_items"),
    )


# ============================================== write-path roundtrips
# (§2.1): the query WRITES via the engine sink, re-reads, and returns
# rows the oracle recomputes from the source tables — so a mismatch
# anywhere in the write/read path fails the hash check.


@_register(
    "scan_parquet_tables",
    """
    SELECT 'customer' AS tbl, count(*) AS rows_n FROM customer UNION ALL
    SELECT 'orders', count(*) FROM orders UNION ALL
    SELECT 'lineitem', count(*) FROM lineitem UNION ALL
    SELECT 'events', count(*) FROM events UNION ALL
    SELECT 'documents', count(*) FROM documents UNION ALL
    SELECT 'embeddings', count(*) FROM embeddings
    """,
)
def q_scan_parquet_tables(spark, sf_dir):
    parts = []
    for tbl in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
        parts.append(
            _t(spark, sf_dir, tbl).agg(
                F.lit(tbl).alias("tbl"), F.count(F.lit(1)).alias("rows_n")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "write_documents",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN 'xx' ELSE lang END AS lang,
           CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END AS version
    FROM documents
    """,
)
def q_write_documents(spark, sf_dir):
    from data_pipeline2_spark.operators import writers

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.lit(1).alias("version")
    )
    updates = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("lang", F.lit("xx"))
        .withColumn("version", F.lit(2))
    )
    out = writers.upsert_documents(
        docs, updates, writers.scratch_dir("write_documents", sf_dir),
        key="doc_id", version_col="version",
    )
    return out.select("doc_id", "lang", "version")


_DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


@_register(
    "jsonl_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def q_jsonl_roundtrip(spark, sf_dir):
    """documents → JSONL files → read back with explicit schema; the
    oracle checks the roundtrip is lossless (JSONL is the corpus
    interchange format; parquet stays lake-internal)."""
    from data_pipeline2_spark.operators import writers
    from data_pipeline2_spark.sources import text_formats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = writers.scratch_dir("jsonl_roundtrip", sf_dir)
    text_formats.write_jsonl(docs, path)
    return text_formats.read_jsonl(spark, path, _DOCS_DDL)


@_register(
    "orc_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def q_orc_roundtrip(spark, sf_dir):
    """Same roundtrip through ORC (the Hive/Trino columnar interchange
    format; vectorized + pushdown like parquet)."""
    from data_pipeline2_spark.operators import writers
    from data_pipeline2_spark.sources import text_formats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = writers.scratch_dir("orc_roundtrip", sf_dir)
    text_formats.write_orc(docs, path)
    return text_formats.read_orc(spark, path, _DOCS_DDL)


@_register(
    "csv_roundtrip",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def q_csv_roundtrip(spark, sf_dir):
    """Same roundtrip through quoted CSV (embedded quotes/newlines in
    text must survive — writer quotes, reader is multiLine)."""
    from data_pipeline2_spark.operators import writers
    from data_pipeline2_spark.sources import text_formats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = writers.scratch_dir("csv_roundtrip", sf_dir)
    text_formats.write_csv(docs, path)
    return text_formats.read_csv(spark, path, _DOCS_DDL)


@_register(
    "write_embeddings",
    "SELECT vec_id, label FROM embeddings",
)
def q_write_embeddings(spark, sf_dir):
    from data_pipeline2_spark.operators import writers

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("chunk_id"),
        F.lit("hash64").alias("provider"),
        "label",
    )
    # duplicate submission stream → composite-PK write must collapse it
    out = writers.write_embeddings_idempotent(
        emb.unionByName(emb),
        writers.scratch_dir("write_embeddings", sf_dir),
    )
    return out.select(F.col("chunk_id").alias("vec_id"), "label")


@_register(
    "write_jobs",
    """
    SELECT event_type AS job_type,
           CASE WHEN value >= 10 THEN 'completed' ELSE 'pending' END AS status,
           count(*) AS jobs
    FROM events GROUP BY 1, 2
    """,
)
def q_write_jobs(spark, sf_dir):
    from data_pipeline2_spark.operators import writers

    jobs = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("job_id"),
        F.col("event_type").alias("job_type"),
        F.when(F.col("value") >= 10, "completed")
        .otherwise("pending")
        .alias("status"),
    )
    out = writers.write_jobs_partitioned(
        jobs, writers.scratch_dir("write_jobs", sf_dir)
    )
    return out.groupBy("job_type", "status").agg(F.count(F.lit(1)).alias("jobs"))


@_register(
    "cache_write_ttl",
    """
    SELECT event_id, ts AS created_at, ts + INTERVAL 3600 SECOND AS expires_at
    FROM events WHERE event_id < 200
    """,
)
def q_cache_write_ttl(spark, sf_dir):
    from data_pipeline2_spark.operators import writers
    from data_pipeline2_spark.operators.cache import with_expiry

    rows = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 200)
        .select("event_id", F.col("ts").alias("created_at"))
    )
    cached = with_expiry(rows, "created_at", 3600)
    out = writers.write_parquet_roundtrip(
        cached, writers.scratch_dir("cache_write_ttl", sf_dir)
    )
    return out.select("event_id", "created_at", "expires_at")


@_register(
    "search_cache_rw",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    hits AS (
      SELECT e.vec_id, round({_cos_sql('e.embedding', 'q.qv')}, 6) AS score
      FROM embeddings e, q ORDER BY score DESC, e.vec_id LIMIT 10
    ), cached AS (
      SELECT vec_id, score,
             sha256(concat_ws('|', 'q0', 'hash64', '', '10')) AS cache_key,
             TIMESTAMP '2024-01-01 00:00:00' + (vec_id * INTERVAL 1 MINUTE) AS created_at
      FROM hits)
    SELECT vec_id, score, cache_key FROM cached
    WHERE created_at + INTERVAL 3600 SECOND > TIMESTAMP '2024-01-01 00:30:00'
    """,
)
def q_search_cache_rw(spark, sf_dir):
    # store kNN results under a deterministic cache key with TTL, then
    # read back only the still-fresh entries (search_cache.py:35-71)
    from data_pipeline2_spark.operators.cache import ttl_filter

    emb = _t(spark, sf_dir, "embeddings")
    hits = similarity.knn_cosine(emb, _knn_query_vec(spark, sf_dir), k=10)
    cached = hits.select(
        "vec_id",
        "score",
        similarity.search_cache_key(
            F.lit("hash64"), F.lit(""), F.lit(10), F.lit("q0")
        ).alias("cache_key"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(mins=F.col("vec_id").cast("int"))
        ).alias("created_at"),
    )
    fresh = ttl_filter(cached, "created_at", 3600, "2024-01-01 00:30:00")
    return fresh.select("vec_id", "score", "cache_key")


@_register(
    "join_chunk_embedding",
    """
    SELECT c.chunk_id, e.vec_id, e.label, len(e.embedding) AS dim
    FROM (SELECT doc_id, doc_id::VARCHAR || '-0' AS chunk_id FROM documents) c
    JOIN embeddings e ON c.doc_id = e.vec_id
    """,
)
def q_join_chunk_embedding(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    chunks = chunking.chunk_fixed(docs, 100_000).select("doc_id", "chunk_id")
    emb = _t(spark, sf_dir, "embeddings")
    return (
        chunks.join(emb, chunks["doc_id"] == emb["vec_id"])
        .select(
            "chunk_id", "vec_id", "label", F.size("embedding").cast("long").alias("dim")
        )
    )


@_register(
    "processing_time_stats",
    """
    SELECT event_type AS operation, count(*) AS cnt,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           max(value) AS max_v
    FROM events GROUP BY event_type
    """,
)
def q_processing_time_stats(spark, sf_dir):
    evt = _t(spark, sf_dir, "events")
    return evt.groupBy(F.col("event_type").alias("operation")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.max("value").alias("max_v"),
    )


@_register(
    "embed_metrics",
    """
    SELECT 'hash64' AS provider,
           CASE WHEN vec_id % 3 = 0 THEN 'cache_hit' ELSE 'success' END AS status,
           count(*) AS requests
    FROM embeddings GROUP BY 1, 2
    """,
)
def q_embed_metrics(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    log = emb.select(
        F.lit("hash64").alias("provider"),
        F.when(F.col("vec_id") % 3 == 0, "cache_hit")
        .otherwise("success")
        .alias("status"),
    )
    return embedding.embed_metrics(log)


# ================================================= rows-only entries
# (non-SQL-expressible: pandas-UDF seams, LSH approx, streaming-native)


@_register(
    "embed_batch",
    """
    SELECT CAST(sum(greatest(CAST(ceil(length(text)/100.0) AS BIGINT), 1))
                AS BIGINT) AS total_rows,
           true AS batches_cover_rows,
           true AS max_batch_le_cap
    FROM documents
    """,
)
def q_embed_batch(spark, sf_dir):
    # Arrow batching made visible: mapInPandas over the chunk stream,
    # emitting one row per Arrow batch with its size — the engine analog
    # of the reference's batch_size=32 fan-out (embedding_service.py:197-204).
    # Raw batch counts depend on Arrow batching, so the oracle checks the
    # DETERMINISTIC invariants instead: exact total rows (no row lost or
    # duplicated across batches), enough batches to cover the rows, and
    # every batch within spark.sql.execution.arrow.maxRecordsPerBatch.
    import pandas as pd

    cap = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    docs = _t(spark, sf_dir, "documents")
    chunks = chunking.chunk_fixed(docs, 100).select("content")

    def batch_sizes(batches):
        for pdf in batches:
            yield pd.DataFrame({"batch_rows": [len(pdf)]})

    sizes = chunks.mapInPandas(batch_sizes, "batch_rows long")
    return sizes.groupBy().agg(
        F.sum("batch_rows").alias("total_rows"),
        (
            F.count(F.lit(1))
            >= F.ceil(F.sum("batch_rows") / F.lit(float(cap)))
        ).alias("batches_cover_rows"),
        (F.max("batch_rows") <= F.lit(cap)).alias("max_batch_le_cap"),
    )


@_register(
    "embed_retry",
    """
    SELECT count(*) AS requested,
           CAST(sum(CASE WHEN fail_n < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS succeeded,
           CAST(sum(CASE WHEN fail_n >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped
    FROM (
      SELECT CASE WHEN text IS NULL THEN 3  -- unembeddable: dropped,
                                            -- same as exhausting retries
             ELSE (strpos('0123456789abcdef', substr(sha256(text), 64, 1))
                   - 1) % 4 END AS fail_n
      FROM documents WHERE doc_id < 100
    )
    """,
)
def q_embed_retry(spark, sf_dir):
    """The full retry contract over the mock-HTTP provider seam
    (embedding_service.py:45-50, 206-212): each document's provider
    deterministically fails its first sha256(text)%4 attempts — items
    needing 0-2 retries succeed under the 3-attempt wrapper, items
    scripted to fail 3x exhaust retries, return null, and are DROPPED
    (skip-and-continue). The oracle recomputes the fail plan in SQL
    (full-digest mod 4 == last hex digit mod 4), so the retry loop's
    success/drop split is value-checked, not just row-counted."""
    import hashlib as _hl

    def fail_plan(t):
        return int(_hl.sha256(t.encode()).hexdigest(), 16) % 4

    embedder = embedding.make_provider_embedder(
        embedding.NomicProvider,
        lambda: embedding.MockHTTPSession(fail_plan=fail_plan),
    )
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    out = docs.select("doc_id", embedder(F.col("text")).alias("embedding"))
    return out.groupBy().agg(
        F.count(F.lit(1)).alias("requested"),
        F.count("embedding").alias("succeeded"),
        F.sum(F.col("embedding").isNull().cast("long")).alias("dropped"),
    )


@_register(
    "embed_provider",
    f"""
    WITH chunks AS ({_slices_sql("documents WHERE doc_id < 50", 100)})
    SELECT chunk_id, 'hash64' AS provider, 64 AS dim, 1.0 AS sq_norm
    -- blank = no non-whitespace char (the embedder's python strip()
    -- semantics) — space-only trim() would keep tab-only chunks
    FROM chunks WHERE regexp_replace(content, '\\s', '', 'g') <> ''
    """,
)
def q_embed_provider(spark, sf_dir):
    """Provider seam value-checked at the contract level: the oracle
    replays the chunk grid and asserts every non-blank chunk got an
    embedding of the configured width with unit norm (the vector VALUES
    are pytest-checked — float32 content is not SQL-portable, but
    skip-and-continue, dimensionality, and normalization are)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    chunks = chunking.chunk_fixed(docs, 100)
    out = embedding.embed_chunks(chunks, text_col="content", id_col="chunk_id")
    return out.select(
        "chunk_id",
        "provider",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            4,
        ).alias("sq_norm"),
    )


@_register(
    "embed_incremental",
    f"""
    WITH chunks AS ({_slices_sql("documents WHERE doc_id < 60", 200)})
    SELECT chunk_id, 'hash64' AS provider, 64 AS dim
    FROM chunks WHERE regexp_replace(content, '\\s', '', 'g') <> ''
    """,
)
def q_embed_incremental(spark, sf_dir):
    """Cache-aside invariant value-checked: hits ∪ fresh must cover
    every requested non-blank chunk exactly once (no duplicates from
    the union, no cache rows leaking beyond the requested batch)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    chunks = chunking.chunk_fixed(docs, 200)
    cached = embedding.embed_chunks(
        chunks.filter(F.col("doc_id") % 2 == 0), "content", "chunk_id"
    )
    out = embedding.embed_incremental(chunks, cached)
    return out.select("chunk_id", "provider", F.size("embedding").alias("dim"))


@_register(
    "chunk_sentence_exact",
    f"""
    WITH RECURSIVE units AS (
      SELECT doc_id, idx, unit, length(unit) AS ulen
      FROM ({_python_units_sql("documents")})
    ), step AS (
      SELECT doc_id, idx, unit, ulen, 0 AS pos, ulen AS cur_len
      FROM units WHERE idx = 1
      UNION ALL
      SELECT n.doc_id, n.idx, n.unit, n.ulen,
             CASE WHEN s.cur_len + 1 + n.ulen > 500
                  THEN s.pos + 1 ELSE s.pos END,
             CASE WHEN s.cur_len + 1 + n.ulen > 500
                  THEN n.ulen ELSE s.cur_len + 1 + n.ulen END
      FROM step s JOIN units n ON n.doc_id = s.doc_id AND n.idx = s.idx + 1
    )
    SELECT doc_id, CAST(pos AS INT) AS pos,
           doc_id || '-' || pos AS chunk_id,
           string_agg(unit, ' ' ORDER BY idx) AS content,
           CAST(count(*) AS INT) AS n_units
    FROM step GROUP BY doc_id, pos
    """,
)
def q_chunk_sentence_exact(spark, sf_dir):
    """The exact sequential greedy packer (applyInPandas), now fully
    value-checked: the oracle replays the stateful accumulation loop as
    a DuckDB recursive CTE — one recursion step per sentence, same
    separator arithmetic, same oversized-unit and word/empty fallbacks
    (reference loop: docling_service.py:150-160)."""
    return chunking.chunk_sentence_exact(_t(spark, sf_dir, "documents"), 500)


