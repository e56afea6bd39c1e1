"""Vector math as pure Catalyst expressions — no UDFs in the hot path.

The reference scores cosine similarity inside Elasticsearch
(script_score `cosineSimilarity(params.query_vector, 'embedding') + 1.0`,
doc_pipeline/services/vector_storage.py:85-91). Here the same math is a
JVM-side higher-order-function expression over `array<float>` columns:
whole-stage-codegen'd, columnar, no Python in the loop.

Determinism: every element is cast to double before multiply/accumulate,
and accumulation is a left fold in array order (`aggregate`), so results
are bit-stable across runs and partitionings (per-row computation only).

Driver-known vectors (a search query, LSH hyperplanes, IVF probes) enter
the plan as ONE parsed array literal (`query_vector_lit`): building it
from per-element `F.lit` columns costs two py4j round trips per element.

Operators score cosine through one kernel: `with_norm` projects each
side's norm once per row, `cosine` folds once per pair, and
`cosine_to_query` is the same formula against a driver-known query.
`cosine_similarity` (five folds per pair) is the reference tests
compare them with.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, computed in double."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """cosine(a, b) = a·b / (|a| |b|); callers round for oracle parity.

    Zero-norm inputs yield NULL, not NaN: Spark's NaN semantics
    (NaN >= x is true, NaN sorts above every double) would otherwise
    rank a zero vector as everyone's best match; NULL drops out of
    filters and sorts last under desc.
    """
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def _double_sql(x) -> str:
    """One double as Spark SQL text that parses back to the same bits:
    `repr` is the shortest round-tripping decimal, and the parser reads a
    `D`-suffixed literal with Java's correctly rounded parseDouble."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('-Infinity' AS DOUBLE)" if x < 0 else "CAST('Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _vector_sql(vec) -> str:
    # the cast types the empty vector; on doubles it simplifies away
    return "CAST(array(%s) AS ARRAY<DOUBLE>)" % ", ".join(map(_double_sql, vec))


def query_vector_lit(vec) -> Column:
    """A python list of floats → array<double> literal column.

    Used to broadcast a single query vector into the plan (the analog of
    ES `params.query_vector`). For batches of query vectors use a
    broadcast join instead (operators/similarity.py:knn_batch).
    """
    return F.expr(_vector_sql(vec))


def query_norm(vec) -> float:
    """‖vec‖ on the driver, bit-identical to `l2_norm` of the literal:
    the same left fold of double squares from 0.0, then a correctly
    rounded sqrt."""
    acc = 0.0
    for x in vec:
        x = float(x)
        acc = acc + x * x
    return math.sqrt(acc)


# ‖v‖ and cosine(a, b) from projected norms, as folds; CAST is a no-op
# on doubles. Same left fold of double products and the same division
# as `cosine_similarity`, so the same bits.
_NORM_SQL = (
    "sqrt(aggregate({v}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)
_COSINE_SQL = (
    "CASE WHEN {an} > 0 AND {bn} > 0 THEN aggregate(zip_with({a}, {b}, "
    "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, p) -> acc + p)"
    " / ({an} * {bn}) END"
)


def with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    """`df` plus `norm_col` = ‖df[vec_col]‖ (bit-identical to `l2_norm`),
    one fold per row. Project it on each side BEFORE a join, so that
    `cosine` over the joined pairs folds once per pair instead of five
    times."""
    return df.withColumn(norm_col, F.expr(_NORM_SQL.format(v=vec_col)))


def cosine(
    a: str, a_norm: str, b: str, b_norm: str, scale: int | None = None
) -> Column:
    """cosine_similarity(a, b) reading the norms `with_norm` projected:
    one fold (the dot) per pair, the same bits, rounded to `scale`
    digits when given. Arguments are column names (or SQL expressions).
    The `> 0` tests stay in the Spark expression, so zero norms give
    NULL and NaN norms NaN, as in `cosine_similarity`."""
    score = _COSINE_SQL.format(a=a, an=a_norm, b=b, bn=b_norm)
    if scale is not None:
        score = f"round({score}, {int(scale)})"
    return F.expr(score)


def cosine_to_query(
    df: DataFrame, vec_col: str, query, keep, scale: int | None = None
) -> DataFrame:
    """`keep` columns + `score` = cosine_similarity(df[vec_col], query),
    rounded to `scale` digits when given — bit-identical to
    `cosine_similarity(F.col(vec_col), query_vector_lit(query))`, at two
    folds per row instead of five.

    `query` is a Python list, or a one-row DataFrame whose first column
    is the vector (broadcast through a 1-row cross join; an empty one
    yields no rows). A list's norm is computed on the driver
    (`query_norm`); a DataFrame's once, on its single row. The row norm
    is projected once, and the score reads it twice. This is `cosine`
    with the query side inlined as literals.
    """
    cols = [F.col(c) for c in keep]
    if isinstance(query, DataFrame):
        qdf = query.select(F.col(query.columns[0]).alias("__qv")).limit(1)
        df = df.crossJoin(F.broadcast(with_norm(qdf, "__qv", "__qn")))
        q_sql, qn_sql = "__qv", "__qn"
        cols += [F.col("__qv"), F.col("__qn")]
    else:
        q_sql, qn_sql = _vector_sql(query), _double_sql(query_norm(query))
    normed = df.select(
        *cols,
        F.col(vec_col).alias("__kv"),
        F.expr(_NORM_SQL.format(v="__kv")).alias("__kn"),
    )
    score = cosine("__kv", "__kn", q_sql, qn_sql, scale)
    return normed.select(*keep, score.alias("score"))
