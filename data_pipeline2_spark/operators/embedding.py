"""Embedding generation — the reference's UDF surface, Spark-first.

Reference (doc_pipeline/services/embedding_service.py): pluggable HTTP
providers (Nomic :95-105, Granite :107-122), batch fan-out of 32
(:197-204), per-item retry (tenacity 3x exp backoff :45-50), cache-aside
via Redis (:148-170), failed items dropped from results (:206-212).

Engine realization:
- the default provider is a deterministic hash-projection embedder so
  the whole pipeline is reproducible (the reference's live HTTP calls
  are a non-deterministic dependency, excluded from the correctness
  surface by design — SURVEY.md §7). It is a JVM expression
  (`embed_chunks`): sha2 + array arithmetic, no Python worker on the
  chunk → embed path; `hash_embed_one` is its driver-side twin (query
  embedding, tests' reference);
- the HTTP providers keep a scalar pandas_udf seam over Arrow batches
  (`make_provider_embedder`; batch size = Arrow batch config, the
  analog of EMBEDDING_BATCH_SIZE) with the reference's retry loop;
- failure semantics: a provider returns null for a failed item; callers
  drop nulls — identical to the reference's skip-and-continue;
- cache-aside: left_anti against the materialized embedding table, then
  compute only the misses and union (operators/joins.py:join_anti_incremental).
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType
from pyspark.sql import pandas as _  # noqa: F401  (ensures pandas-on-spark support loaded)

DEFAULT_DIM = 64  # testdata embedding width; reference providers use 768
EMBED_BATCH_SIZE = 32  # reference settings.py:43 — maps to Arrow batch size

# canonical ASCII whitespace set (see functions/text.py for the
# engine-wide rationale — ADVICE r8): the blank test strips exactly
# this set, matching the JVM/RE2 \s the oracles use.
from data_pipeline2_spark.functions.text import ASCII_WS  # noqa: E402
from data_pipeline2_spark.plans.partitioning import (  # noqa: E402
    adaptive_key_join,
    null_key_rows,
)


def hash_embed_one(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic unit-norm vector from text content.

    sha256-seeded byte stream → [-1,1) components → L2 normalize. Pure
    python/stdlib: the driver's query embedder and the tests' reference,
    which `embed_chunks` replays bit-for-bit on the executors.
    """
    out: list[float] = []
    counter = 0
    raw = text.encode("utf-8", errors="replace")
    while len(out) < dim:
        h = hashlib.sha256(raw + b"|" + str(counter).encode()).digest()
        for i in range(0, len(h) - 1, 2):
            if len(out) >= dim:
                break
            v = int.from_bytes(h[i : i + 2], "big") / 32768.0 - 1.0
            out.append(v)
        counter += 1
    norm = math.sqrt(sum(v * v for v in out)) or 1.0
    return [float(v / norm) for v in out]


def embed_chunks(
    chunks: DataFrame,
    text_col: str = "content",
    id_col: str = "chunk_id",
    provider: str = "hash64",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """chunks → (chunk_id, provider, embedding) with failed rows dropped.

    Reference contract: generate_embeddings returns only successes
    (embedding_service.py:206-212). A null or blank chunk (nothing but
    ASCII whitespace, `ASCII_WS`) is the provider's failed item. A
    text of Unicode-only whitespace (\\xa0 ...) is NOT blank: it
    embeds, same as the SQL/JVM side keeps it (their \\s is ASCII).

    The vector is `hash_embed_one` replayed as Catalyst expressions,
    bit for bit (the recipe `_hash_embed_ctes` replays in DuckDB):
    sha256 of `text || '|' || c` per 16-component block c, 16-bit
    big-endian words → n/32768 − 1, the norm as a left-fold sum of
    squares (Python's sum order) and sqrt with 0 → 1, an IEEE divide
    and one float32 cast. The per-row sha hex and norm enter the
    element lambdas as `array_repeat` arguments, never as captured
    columns: Catalyst inlines a projected column into a lambda that
    captures it, re-evaluating it for every element."""
    text = F.col(text_col)
    hexd = F.concat(
        *[F.sha2(F.concat(text, F.lit(f"|{c}")), 256) for c in range(-(-dim // 16))]
    )
    raw = F.transform(
        F.array_repeat(hexd, dim),
        lambda h, i: F.conv(F.substring(h, i * 4 + 1, 4), 16, 10).cast("int")
        / F.lit(32768.0)
        - F.lit(1.0),
    )
    norm = F.aggregate(
        "__raw",
        F.lit(0.0),
        lambda acc, x: acc + x * x,
        lambda s: F.when(s == 0, F.lit(1.0)).otherwise(F.sqrt(s)),
    )
    return (
        chunks.filter(F.length(F.btrim(text, F.lit(ASCII_WS))) > 0)
        .select(
            F.col(id_col).alias("chunk_id"),
            F.lit(provider).alias("provider"),
            raw.alias("__raw"),
        )
        .select(
            "chunk_id",
            "provider",
            F.zip_with(
                "__raw",
                F.array_repeat(norm, dim),
                lambda x, n: (x / n).cast("float"),
            ).alias("embedding"),
        )
    )


def embed_incremental(
    chunks: DataFrame,
    cached: DataFrame,
    text_col: str = "content",
    id_col: str = "chunk_id",
    provider: str = "hash64",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Cache-aside embedding: compute only chunks missing from `cached`,
    return cached ∪ fresh.

    Reference: _generate_single_embedding probe/miss/store
    (embedding_service.py:141-181). The left_anti + union is the batch
    re-expression of per-key Redis cache-aside; at 100 TB it is the
    difference between an incremental append and a full recompute.
    """
    requested = chunks.select(
        F.col(id_col).alias("chunk_id"), F.col(text_col).alias("__text")
    )
    cached_kv = cached.select("chunk_id", "provider", "embedding").filter(
        F.col("provider") == provider
    )
    # the output is keyed to the REQUESTED chunks: cache hits for this
    # batch plus freshly computed misses — never the whole cache table
    # (reference contract: generate_embeddings returns results for the
    # chunks passed in, embedding_service.py:183-214)
    hits = cached_kv.join(
        requested.select("chunk_id"), "chunk_id", "left_semi"
    )
    # Content must never shuffle (r11, caught by the x100 gate): a
    # direct anti join of the content-bearing `requested` against the
    # cache ids sort-merges at scale and ships the TEXT both ways
    # (measured 260x shuffle at x100 on the serving composition). The
    # scale shape is: resolve miss IDS with an id-only anti join (8-byte
    # rows, linear at any scale), then fetch the miss content map-side
    # via a broadcast semi join — misses are the incremental delta,
    # small by construction at steady state. The broadcast is sized,
    # not pinned (ADVICE r11): a cold-start full-miss probe degrades to
    # the shuffle join Spark would pick at that size instead of OOMing
    # the driver (a planned backfill should still feed the corpus to
    # embed_chunks directly — one pass, no probe at all). Null-id
    # chunks can never be cache hits, so they go straight to the
    # embedder, preserving the operator's requested == output keying.
    miss_ids = requested.select("chunk_id").join(
        cached_kv.select("chunk_id"), "chunk_id", "left_anti"
    )
    pending = adaptive_key_join(requested, miss_ids, "chunk_id").unionByName(
        null_key_rows(requested, "chunk_id")
    )
    fresh = embed_chunks(
        pending, text_col="__text", id_col="chunk_id", provider=provider, dim=dim
    )
    return hits.unionByName(fresh)


# ---------------------------------------------------------------- real
# provider seam: HTTP payload contracts + retry, over a mock transport


class TransientProviderError(RuntimeError):
    """A retryable provider failure (the 5xx / timeout class the
    reference retries via tenacity, embedding_service.py:45-50)."""


class MockHTTPSession:
    """Deterministic in-process stand-in for the HTTP transport
    (reference: lazy shared aiohttp session, embedding_service.py:40-43).

    Routes POSTed payloads to the right provider contract and answers
    with the deterministic hash embedding of the text. `fail_plan(text)`
    scripts how many transient failures precede success — the seam tests
    use it to prove the retry contract without a network."""

    def __init__(self, dim: int = DEFAULT_DIM, fail_plan=None):
        self.dim = dim
        self.fail_plan = fail_plan or (lambda t: 0)
        self.attempts: dict[str, int] = {}
        self.requests: list[tuple[str, dict, dict]] = []

    def post(self, url: str, json: dict, headers: dict | None = None) -> dict:
        self.requests.append((url, json, headers or {}))
        if "texts" in json:  # Nomic contract (embedding_service.py:95-105)
            text = json["texts"][0]
        else:  # Granite contract (embedding_service.py:107-122)
            text = json["input"]
        n = self.attempts.get(text, 0)
        self.attempts[text] = n + 1
        if n < self.fail_plan(text):
            raise TransientProviderError(f"503 on attempt {n + 1}")
        vec = hash_embed_one(text, self.dim)
        if "texts" in json:
            return {"embeddings": [vec]}
        return {"data": [{"embedding": vec}]}

    def finish_item(self, text: str) -> None:
        """End-of-retry-cycle hook (called by embed_with_retry): reset
        the scripted counter so a LATER occurrence of the same text
        replays the same failure script — retry state is per item, not
        per distinct string (two identical docs each retry from zero,
        and scripted exhaustion stays exhaustion regardless of
        partitioning)."""
        self.attempts.pop(text, None)


class NomicProvider:
    """Payload/response contract of the reference's Nomic provider:
    POST {"texts": [t], "task_type": "search"} → embeddings[0]
    (embedding_service.py:95-105)."""

    name = "nomic"

    def __init__(self, url: str = "mock://nomic/embed"):
        self.url = url

    def embed(self, session, text: str) -> list[float]:
        resp = session.post(
            self.url, json={"texts": [text], "task_type": "search"}
        )
        return resp["embeddings"][0]


class GraniteProvider:
    """Payload/response contract of the reference's Granite provider:
    X-API-Key header, POST {"input": t, "encoding_format": "float"} →
    data[0].embedding (embedding_service.py:107-122)."""

    name = "granite"

    def __init__(self, url: str = "mock://granite/embed", api_key: str = "test"):
        self.url = url
        self.api_key = api_key

    def embed(self, session, text: str) -> list[float]:
        resp = session.post(
            self.url,
            json={"input": text, "encoding_format": "float"},
            headers={"X-API-Key": self.api_key},
        )
        return resp["data"][0]["embedding"]


def embed_with_retry(
    provider,
    session,
    text: str,
    max_attempts: int = 3,
    backoff_base: float = 4.0,
    backoff_max: float = 10.0,
    sleep=None,
) -> list[float] | None:
    """The reference's retry contract (embedding_service.py:45-50):
    `max_attempts` tries, exponential backoff clamped to [base, max]
    seconds between them, None after the final failure (callers drop
    the item — skip-and-continue, :206-212).

    `sleep` is injectable: real transports pass time.sleep; tests pass
    a recorder; UDFs default to None so deterministic mock providers
    never stall an executor core."""
    try:
        for attempt in range(1, max_attempts + 1):
            try:
                return provider.embed(session, text)
            except TransientProviderError:
                if attempt == max_attempts:
                    return None
                if sleep is not None:
                    sleep(min(backoff_max, backoff_base * 2 ** (attempt - 1)))
        return None
    finally:
        # item-scoped transport state (mock sessions script failures per
        # item; real sessions don't implement the hook)
        fin = getattr(session, "finish_item", None)
        if fin is not None:
            fin(text)


def make_provider_embedder(
    provider_factory,
    session_factory,
    max_attempts: int = 3,
):
    """pandas_udf text -> array<float> running an HTTP-contract provider
    under the retry wrapper; null rows = items that exhausted retries.

    One provider + session per executor python worker (created lazily
    inside the closure — the Arrow-batch analog of the reference's
    shared session), so connection setup amortizes across batches."""

    state: dict = {}

    @F.pandas_udf(ArrayType(FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        if not state:
            state["provider"] = provider_factory()
            state["session"] = session_factory()

        def one(t):
            if t is None:
                return None
            return embed_with_retry(
                state["provider"], state["session"], t, max_attempts
            )

        return texts.map(one)

    return embed


def embed_metrics(embeddings_log: DataFrame) -> DataFrame:
    """Request counters by (provider, status) — the engine analog of the
    reference's Prometheus embedding counters (embedding_service.py:14-23)."""
    return embeddings_log.groupBy("provider", "status").agg(
        F.count(F.lit(1)).alias("requests")
    )
