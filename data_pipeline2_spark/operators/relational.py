"""Projection / filter / lookup / sort / top-k operators.

These re-express the reference's query-shaped service methods as
declarative DataFrame transforms (filters reach the parquet scan via
Catalyst pushdown — the analog of ES applying a `term` filter inside
the same bool query as scoring, vector_storage.py:78-91).

Scale notes: point lookups on a 100 TB lake should hit a partitioned /
Z-ordered layout so pruning, not a full scan, serves them; the operator
shape (single equality filter) is what enables that pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline2_spark.functions.text import tokens
from data_pipeline2_spark.plans.materialize import materialize


def filter_term(df: DataFrame, column: str, value) -> DataFrame:
    """Exact-equality keyword filter.

    Reference: ES `term` filter on embedding_provider inside the kNN
    bool query (doc_pipeline/services/vector_storage.py:78-83).
    """
    return df.filter(F.col(column) == F.lit(value))


def point_lookup(df: DataFrame, key_column: str, key) -> DataFrame:
    """Primary-key point lookup.

    Reference: two-tier Redis→ES get_document / get_job
    (document_storage.py:116-140, job_storage.py:77-99). The cache tier
    collapses into one pushed-down equality filter; cross-run caching is
    the materialized-table pattern in operators/cache.py.
    """
    return df.filter(F.col(key_column) == F.lit(key))


def project_status(df: DataFrame, key_column: str, status_column: str) -> DataFrame:
    """Key+status projection — reference GET /{id}/status
    (api/routes/documents.py:59-71)."""
    return df.select(key_column, status_column)


def fulltext_match(df: DataFrame, text_column: str, term: str) -> DataFrame:
    """Analyzed full-text term match.

    Reference: ES `match` query (test_full_pipeline.py:130-139; README
    "Semantic & metadata search" contract README.md:35-38). Re-derived
    deterministically: tokenize on whitespace, lowercase, exact token
    membership.
    """
    return df.filter(
        F.array_contains(F.transform(tokens(F.col(text_column)), F.lower), term.lower())
    )


def metadata_filter(df: DataFrame, json_column: str, json_path: str, predicate) -> DataFrame:
    """Filter on a field inside a JSON metadata column.

    Reference: metadata search surface (README.md:127; filters threaded
    through the search-cache key, search_cache.py:22,39,54). `predicate`
    maps the extracted string column to a boolean Column.
    """
    extracted = F.get_json_object(F.col(json_column), json_path)
    return df.filter(predicate(extracted))


def sort_limit(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Global top-k: orderBy().limit() → TakeOrderedAndProject (no full
    sort at scale). Reference: ES `size: k` (vector_storage.py:96-100)."""
    return df.orderBy(*order_cols).limit(k)


def topk_per_group(
    df: DataFrame, partition_cols: list[str], order_cols: list[Column], k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group top-k via ranking window; one shuffle on the group key."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def latest_state(
    df: DataFrame, key_cols: list[str], version_cols: list[Column]
) -> DataFrame:
    """Latest-wins state from an append-only log.

    Reference analog: ES upsert-by-_id semantics (document_storage.py:86-114)
    and status transitions (document_processor.py:117-132) — modeled as
    append + latest-wins instead of update-in-place, which is the only
    sane pattern on an immutable 100 TB lake.
    `version_cols` order: newest first (e.g. [desc(updated_at), desc(id)]).
    """
    w = Window.partitionBy(*key_cols).orderBy(*version_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def phrase_match(
    df: DataFrame,
    text_column: str,
    phrase: str,
) -> DataFrame:
    """Exact phrase filter (ES `match_phrase` analog): the phrase's
    tokens must appear consecutively, on word boundaries.

    Tokenizes both sides with the engine's one tokenizer (trim +
    whitespace split + lower) and substring-searches the space-joined
    token stream padded with sentinels — word-boundary-exact without
    joins or positional postings, one codegen'd pass over the corpus.
    A positional-index variant only pays off once phrase queries
    dominate; at that point extend build_text_index's postings with
    position arrays (the ES layout) and intersect adjacent terms.
    """
    from data_pipeline2_spark.operators.textanalysis import _phrase_terms

    needle = " ".join(_phrase_terms(phrase))
    haystack = F.concat(
        F.lit(" "),
        F.array_join(tokens(F.lower(F.col(text_column))), " "),
        F.lit(" "),
    )
    return df.filter(haystack.contains(f" {needle} "))


def distributed_rank(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rank",
    n_partitions: int | None = None,
) -> DataFrame:
    """Exact global 1-based rank WITHOUT a single-task window — the
    zipWithIndex pattern in pure DataFrame terms.

    A bare `row_number() OVER (ORDER BY ...)` collapses the whole
    frame into one window partition: the anti-pattern this repo
    polices everywhere (pretrain_pack, r5). Here the frame range-
    repartitions on the sort keys (a DISTRIBUTED sort), each partition
    ranks locally in parallel, and partition-count offsets (a
    partition-cardinality table) broadcast back: rank = offset +
    local row_number. The range partitioner samples its boundaries,
    so partition ASSIGNMENT is nondeterministic — but offsets are
    computed from actual counts, so the resulting rank is the exact
    global order position regardless of where boundaries fell.

    Requires `order_cols` to be a TOTAL order (append a unique key);
    rows that tie on every sort key may split across range partitions
    and would rank nondeterministically.
    """
    spark = df.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    # the range-sorted working set feeds TWO consumers (offset counts
    # + the ranking window) and must also be FROZEN: re-executing a
    # sampled range partitioner could place boundary rows differently
    # between the two reads — zipWithIndex materializes for the same
    # two reasons
    part = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .transform(materialize)
    )
    counts = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        part.withColumn("__rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(
            rank_col, (F.col("__off") + F.col("__rn")).cast("long")
        )
        .drop("__pid", "__rn", "__off")
    )
