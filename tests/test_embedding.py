"""Embedding seam invariants, mirroring the reference's
test_embedding_service.py: cache hit returns identical vector without
recompute (:62-84), failures dropped from results (:109-123),
determinism of the provider seam."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from data_pipeline2_spark.operators import embedding


def test_hash_embed_deterministic_unit_norm():
    a = embedding.hash_embed_one("hello world", 64)
    b = embedding.hash_embed_one("hello world", 64)
    c = embedding.hash_embed_one("different", 64)
    assert a == b
    assert a != c
    assert len(a) == 64
    assert abs(math.sqrt(sum(x * x for x in a)) - 1.0) < 1e-6


def test_embed_chunks_drops_failures(spark):
    rows = [("c1", "some text"), ("c2", "   "), ("c3", "more text")]
    chunks = spark.createDataFrame(rows, "chunk_id string, content string")
    out = embedding.embed_chunks(chunks).toPandas()
    # blank content = provider failure → dropped, not nulled (reference
    # embedding_service.py:206-212)
    assert set(out.chunk_id) == {"c1", "c3"}
    assert (out.provider == "hash64").all()


def test_embed_blank_is_ascii_whitespace_only(spark):
    # "blank" pins to ASCII whitespace (ADVICE r8): Unicode-only
    # whitespace is NOT blank — the JVM/RE2 side (\s is ASCII) keeps
    # such rows, so the Python seam must embed them too
    rows = [
        ("ascii_blank", " \t\n "),
        ("unicode_ws", "   　"),
        ("real", "text"),
    ]
    chunks = spark.createDataFrame(rows, "chunk_id string, content string")
    out = embedding.embed_chunks(chunks).toPandas()
    assert set(out.chunk_id) == {"unicode_ws", "real"}


EDGE_TEXTS = [
    "hello world", "é", "😀 emoji 🚀", "x" * 700, "a", "0", "line\nbreak",
    "\xa0", "\u3000 ", None, "", " ", " \t\n\r\x0b\x0c ",
]


@pytest.mark.driver
@pytest.mark.parametrize("dim", [4, 16, 64, 100])
def test_embed_chunks_bit_identical_to_hash_embed_one(spark, dim):
    # the JVM embedder replays hash_embed_one's float32 output bit for
    # bit (dims off the 16-word sha block included), and drops exactly
    # the null / ASCII-blank rows
    from data_pipeline2_spark.functions.text import ASCII_WS
    from data_pipeline2_spark.operators.serving_e2e import _f32

    rows = [(f"c{i}", t) for i, t in enumerate(EDGE_TEXTS)]
    chunks = spark.createDataFrame(rows, "chunk_id string, content string")
    got = {r.chunk_id: r.embedding for r in embedding.embed_chunks(chunks, dim=dim).collect()}
    want = {
        cid: _f32(embedding.hash_embed_one(t, dim))
        for cid, t in rows
        if t is not None and t.strip(ASCII_WS)
    }
    assert got.keys() == want.keys()
    for cid, vec in want.items():
        assert struct.pack(f"<{dim}f", *got[cid]) == struct.pack(f"<{dim}f", *vec), cid


def test_embed_incremental_reuses_cache(spark):
    rows = [(f"c{i}", f"text number {i}") for i in range(10)]
    chunks = spark.createDataFrame(rows, "chunk_id string, content string")
    # cache holds poisoned vectors for even ids: if the pipeline
    # recomputed them, values would differ
    poisoned = embedding.embed_chunks(
        chunks.filter(F.expr("substring(chunk_id, 2) % 2 = 0"))
    ).withColumn("embedding", F.transform("embedding", lambda x: x * 0 + 7.0))
    out = embedding.embed_incremental(chunks, poisoned).toPandas()
    assert len(out) == 10
    vals = {r.chunk_id: r.embedding for r in out.itertuples()}
    assert all(v == 7.0 for v in vals["c0"])  # cache hit: untouched
    assert any(abs(v) < 1.0 for v in vals["c1"])  # miss: freshly computed


def test_embed_metrics_counts(spark):
    log = spark.createDataFrame(
        [("nomic", "success"), ("nomic", "success"), ("nomic", "error"),
         ("granite", "cache_hit")],
        "provider string, status string",
    )
    out = {(r.provider, r.status): r.requests
           for r in embedding.embed_metrics(log).collect()}
    assert out[("nomic", "success")] == 2
    assert out[("granite", "cache_hit")] == 1


def test_embed_incremental_scoped_to_request(spark):
    # the cache holds MANY more chunks than requested; output must be
    # keyed to the request, not the cache
    all_chunks = spark.createDataFrame(
        [(f"c{i}", f"text {i}") for i in range(100)],
        "chunk_id string, content string",
    )
    cached = embedding.embed_chunks(all_chunks)
    request = all_chunks.filter(F.expr("substring(chunk_id, 2) < 10"))
    out = embedding.embed_incremental(request, cached)
    assert out.count() == request.count()


# ---- mock-HTTP provider seam: retry + payload contracts (reference
# test_embedding_service.py:134-206) ----


def test_retry_then_succeed_with_backoff():
    """2 transient failures → success on attempt 3; backoff sleeps are
    4s then 8s (exponential, clamped to 10s), mirroring tenacity
    wait_exponential(min=4, max=10) x 3 attempts."""
    session = embedding.MockHTTPSession(fail_plan=lambda t: 2)
    sleeps = []
    vec = embedding.embed_with_retry(
        embedding.NomicProvider(), session, "hello", sleep=sleeps.append
    )
    assert vec == embedding.hash_embed_one("hello")
    assert len(session.requests) == 3  # two failures + the success
    assert sleeps == [4.0, 8.0]


def test_retry_exhausted_returns_none():
    session = embedding.MockHTTPSession(fail_plan=lambda t: 3)
    sleeps = []
    vec = embedding.embed_with_retry(
        embedding.GraniteProvider(), session, "doomed", sleep=sleeps.append
    )
    assert vec is None
    assert len(session.requests) == 3
    assert sleeps == [4.0, 8.0]  # no sleep after the final failure


def test_retry_state_is_per_item_not_per_text():
    """Two items with IDENTICAL text must each replay the same scripted
    failure plan — a shared per-text counter would let the second
    occurrence of a permanently-failing text succeed (and make
    success/drop counts partition-dependent)."""
    session = embedding.MockHTTPSession(fail_plan=lambda t: 3)
    p = embedding.NomicProvider()
    assert embedding.embed_with_retry(p, session, "same text") is None
    assert embedding.embed_with_retry(p, session, "same text") is None
    flaky = embedding.MockHTTPSession(fail_plan=lambda t: 2)
    v1 = embedding.embed_with_retry(p, flaky, "same text")
    v2 = embedding.embed_with_retry(p, flaky, "same text")
    assert v1 == v2 == embedding.hash_embed_one("same text")


def test_provider_payload_contracts():
    """Byte-level payload/header/response-path contracts of both
    reference providers (embedding_service.py:95-122)."""
    session = embedding.MockHTTPSession()
    embedding.NomicProvider().embed(session, "abc")
    url, payload, headers = session.requests[-1]
    assert payload == {"texts": ["abc"], "task_type": "search"}
    assert "X-API-Key" not in headers

    embedding.GraniteProvider(api_key="k123").embed(session, "abc")
    url, payload, headers = session.requests[-1]
    assert payload == {"input": "abc", "encoding_format": "float"}
    assert headers["X-API-Key"] == "k123"


def test_provider_embedder_skip_and_continue(spark):
    """Distributed seam: rows whose provider never recovers are dropped;
    survivors carry the exact deterministic embedding."""
    rows = [(i, f"text {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, content string")

    def fail_plan(t):  # odd ids fail forever (>=3), even ids need 1 retry
        return 1 if int(t.split()[1]) % 2 == 0 else 3

    embedder = embedding.make_provider_embedder(
        embedding.NomicProvider,
        lambda: embedding.MockHTTPSession(fail_plan=fail_plan),
    )
    out = df.select("id", embedder(F.col("content")).alias("embedding"))
    survivors = out.filter(F.col("embedding").isNotNull()).collect()
    assert {r.id for r in survivors} == {i for i in range(20) if i % 2 == 0}
    expect = embedding.hash_embed_one("text 0")
    got = next(r.embedding for r in survivors if r.id == 0)
    assert [round(v, 5) for v in got] == [round(v, 5) for v in expect]
