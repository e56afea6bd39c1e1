"""Query registry: every operator exposed to the driver contract.

Each entry pairs a Spark callable `(spark, sf_dir) -> DataFrame` with
(where SQL-expressible) an equivalent DuckDB oracle SQL string over the
pre-registered views region/nation/customer/supplier/part/orders/
lineitem/events/documents/embeddings. Column names are aliased
identically on both sides; float outputs are either exact (decimal-sum
trick) or rounded identically so the driver's order-insensitive value
hash matches.

Names follow SURVEY.md §2's operator inventory.

Split into part-modules by file region (VERDICT r3 item 8); the import
sequence below is the registration order, and `queries()` /
`oracle_sql()` export keys in exactly that order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass  # noqa: F401  (re-export surface)

from pyspark.sql import DataFrame, SparkSession

from data_pipeline2_spark.registry._core import (  # noqa: F401
    QuerySpec,
    _QUERIES,
    _cos_sql,
    _register,
    _t,
)

# Part modules register into _QUERIES on import, in this order.
from data_pipeline2_spark.registry import rel_tpch  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import ingest_chunk  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import text_sampling  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import events_io  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import search_multimodal  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import vector_partsupp  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import analytics_ext  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r5  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r6  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r6b  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r7  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r8  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r8b  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r9  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r9b  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r9c  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r9d  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r9e  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r9f  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r10  # noqa: E402,F401  isort:skip
from data_pipeline2_spark.registry import curation_r11  # noqa: E402,F401  isort:skip


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in _QUERIES}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.sql for q in _QUERIES if q.sql is not None}
