"""functions/vectors.py: the one-call vector literal, the cosine kernel
against a driver-known query and the norm-projected pairwise kernel
must reproduce the general `cosine_similarity` expression bit for bit,
edge values included."""

from __future__ import annotations

import math
import struct
from functools import reduce

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline2_spark.functions.vectors import (
    cosine,
    cosine_similarity,
    cosine_to_query,
    l2_norm,
    query_norm,
    query_vector_lit,
    with_norm,
)

DIM = 8
NAN, INF = float("nan"), float("inf")
EDGE = [0.0, -0.0, 5e-324, -5e-324, 1e308, -1e308, 0.1, 1 / 3, NAN, INF, -INF,
        2.2250738585072014e-308, 3.4028234663852886e38, -123456.789e-7]


def _bits(x):
    return None if x is None else struct.pack(">d", x)


def _rows():
    rng = np.random.default_rng(20261017)
    rows = [[float(x) for x in rng.standard_normal(DIM).astype(np.float32)]
            for _ in range(40)]
    edge = [
        [0.0] * DIM,                                   # zero row
        rows[0][:3] + [NAN] + rows[0][4:],             # NaN component
        [-0.0, 5e-324] + rows[1][2:],                  # signed zero, subnormal
        [1e308] + rows[2][1:],                         # overflowing square
        [-0.0] * DIM,
        rows[3][:-1],                                  # short row: NULL score
        None,                                          # NULL row
    ]
    return rows + edge


QUERIES = {
    "random": [0.25, -1.5, 0.75, 2.0, -0.125, 1e-3, 3.0, -2.5],
    "zero": [0.0] * DIM,
    "nan": [NAN] + [1.0] * (DIM - 1),
    "neg_zero": [-0.0] * (DIM - 1) + [1.0],
    "subnormal": [5e-324] * DIM,
    "huge": [1e308] + [1.0] * (DIM - 1),
    "inf": [INF] + [0.5] * (DIM - 1),
}


@pytest.fixture(scope="module")
def corpus(spark):
    # one cached partition: every score below is a cheap in-memory scan
    df = spark.createDataFrame(
        list(enumerate(_rows())), "id long, v array<double>"
    ).coalesce(1).cache()
    # stored embeddings are float32; both element types must agree
    yield {"double": df,
           "float": df.select("id", F.col("v").cast("array<float>").alias("v"))}
    df.unpersist()


def test_vector_literal_round_trips_exactly(spark):
    got = spark.range(1).select(query_vector_lit(EDGE).alias("q")).first()["q"]
    assert [_bits(x) for x in got] == [_bits(x) for x in EDGE]
    empty = spark.range(1).select(query_vector_lit([]).alias("q"))
    assert empty.first()["q"] == []
    assert empty.schema["q"].dataType.simpleString() == "array<double>"


def test_query_norm_matches_l2_norm(spark):
    for q in list(QUERIES.values()) + [EDGE]:
        want = spark.range(1).select(l2_norm(query_vector_lit(q)).alias("n"))
        assert _bits(query_norm(q)) == _bits(want.first()["n"]), q


@pytest.mark.parametrize("elem", ["double", "float"])
def test_cosine_to_query_bit_identical(spark, corpus, elem):
    df = corpus[elem]
    want_df = df.select("id", *[
        cosine_similarity(F.col("v"), query_vector_lit(q)).alias(name)
        for name, q in QUERIES.items()
    ])
    want = {(name, r["id"]): _bits(r[name])
            for r in want_df.collect() for name in QUERIES}
    # both query forms: the list, and a one-row DataFrame
    qall = spark.createDataFrame(
        list(QUERIES.items()), "name string, q array<double>"
    ).coalesce(1).cache()
    for form in ("list", "frame"):
        got_df = reduce(DataFrame.unionByName, [
            cosine_to_query(
                df, "v",
                q if form == "list" else qall.filter(F.col("name") == name).select("q"),
                ["id"],
            ).withColumn("name", F.lit(name))
            for name, q in QUERIES.items()
        ])
        got = {(r["name"], r["id"]): _bits(r["score"]) for r in got_df.collect()}
        assert got == want, form
    qall.unpersist()


@pytest.mark.parametrize("a_elem,b_elem", [
    ("double", "double"), ("float", "float"), ("float", "double"),
])
@pytest.mark.parametrize("scale", [None, 6])
def test_pairwise_cosine_bit_identical(corpus, a_elem, b_elem, scale):
    # every corpus row (zero, NaN, -0.0, 5e-324, 1e308, short and NULL
    # rows included) against every other, norms projected per side
    a = with_norm(corpus[a_elem].select(F.col("id").alias("ia"),
                                        F.col("v").alias("a")), "a", "an")
    b = with_norm(corpus[b_elem].select(F.col("id").alias("ib"),
                                        F.col("v").alias("b")), "b", "bn")
    ref = cosine_similarity(F.col("a"), F.col("b"))
    pairs = a.crossJoin(b).select(
        "ia", "ib",
        (ref if scale is None else F.round(ref, scale)).alias("want"),
        cosine("a", "an", "b", "bn", scale).alias("got"),
    ).collect()
    assert len(pairs) == len(_rows()) ** 2
    bad = [(r["ia"], r["ib"]) for r in pairs
           if _bits(r["got"]) != _bits(r["want"])]
    assert not bad, bad[:5]


def test_cosine_to_query_rounds_like_f_round(corpus):
    df, q = corpus["float"], QUERIES["random"]
    want = {r["id"]: _bits(r["s"]) for r in df.select(
        "id", F.round(cosine_similarity(F.col("v"), query_vector_lit(q)), 6)
        .alias("s")
    ).collect()}
    got = {r["id"]: _bits(r["score"])
           for r in cosine_to_query(df, "v", q, ["id"], 6).collect()}
    assert got == want


def test_zero_and_nan_queries_keep_spark_semantics(corpus):
    # zero norm → NULL for every row; NaN norm passes Spark's `> 0`
    # (NaN sorts above every double there), so scores are NaN, not NULL
    df = corpus["double"]
    zero = cosine_to_query(df, "v", QUERIES["zero"], ["id"]).collect()
    assert all(r["score"] is None for r in zero)
    nan = {r["id"]: r["score"] for r in
           cosine_to_query(df, "v", QUERIES["nan"], ["id"]).collect()}
    assert math.isnan(nan[1])
