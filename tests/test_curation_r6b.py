"""Round-6 second batch: rate limiting, HTTP transport, NFC
normalization, retrieval metrics, OHLC resampling, higher moments.

Oracle parity for all six registry keys runs in test_oracle_parity.py
automatically; this file covers the operator semantics the oracle can't
see (per-event flags, error taxonomy, the live-socket transport) plus
plan shape for the new keys (exchange budgets: test_exchange_budget.py).
"""

from __future__ import annotations

import datetime as dt
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from pyspark.sql import functions as F

from data_pipeline2_spark import registry
from data_pipeline2_spark.functions.http_transport import (
    HttpSession,
    NonRetryableProviderError,
)
from data_pipeline2_spark.operators import (
    aggregates,
    lifecycle,
    similarity,
    textanalysis,
)
from data_pipeline2_spark.operators.embedding import (
    GraniteProvider,
    NomicProvider,
    TransientProviderError,
    embed_with_retry,
    hash_embed_one,
    make_provider_embedder,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- HTTP
# transport (VERDICT r5 "missing" item 3: the production transport gap)


class _EmbedHandler(BaseHTTPRequestHandler):
    """Local mock of the reference's two embedding services: answers
    both provider payload contracts with the deterministic hash
    embedding, and scripts failures per path for the retry tests."""

    fail_next = {"n503": 1}  # path -> remaining 5xx failures

    def do_POST(self):
        body = json.loads(
            self.rfile.read(int(self.headers["Content-Length"]))
        )
        route = self.path.strip("/")
        if route == "e404":
            self.send_error(404, "no such model")
            return
        if route in self.fail_next and self.fail_next[route] > 0:
            self.fail_next[route] -= 1
            self.send_error(503, "scripted transient failure")
            return
        if "texts" in body:  # Nomic contract
            text = body["texts"][0]
            payload = {"embeddings": [hash_embed_one(text, 8)]}
        else:  # Granite contract
            if self.headers.get("X-API-Key") is None:
                self.send_error(401, "missing key")
                return
            text = body["input"]
            payload = {"data": [{"embedding": hash_embed_one(text, 8)}]}
        out = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)

    def log_message(self, *a):  # silence per-request stderr lines
        pass


@pytest.fixture(scope="module")
def embed_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _EmbedHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_transport_nomic_roundtrip(embed_server):
    sess = HttpSession(timeout=5)
    vec = NomicProvider(url=f"{embed_server}/nomic").embed(sess, "hello")
    assert vec == pytest.approx(hash_embed_one("hello", 8))


def test_http_transport_granite_roundtrip(embed_server):
    sess = HttpSession(timeout=5)
    vec = GraniteProvider(url=f"{embed_server}/granite", api_key="k").embed(
        sess, "hello"
    )
    assert vec == pytest.approx(hash_embed_one("hello", 8))


def test_http_transport_5xx_is_transient_and_retried(embed_server):
    _EmbedHandler.fail_next["n503"] = 1
    sess = HttpSession(timeout=5)
    prov = NomicProvider(url=f"{embed_server}/n503")
    # one scripted 503, then success — the reference's retry contract
    # (3 attempts) must absorb it
    vec = embed_with_retry(prov, sess, "retry-me", max_attempts=3)
    assert vec == pytest.approx(hash_embed_one("retry-me", 8))


def test_http_transport_5xx_exhaustion_returns_none(embed_server):
    _EmbedHandler.fail_next["n503"] = 99
    sess = HttpSession(timeout=5)
    prov = NomicProvider(url=f"{embed_server}/n503")
    assert embed_with_retry(prov, sess, "always-fails", max_attempts=3) is None
    _EmbedHandler.fail_next["n503"] = 0


def test_http_transport_4xx_is_nonretryable(embed_server):
    sess = HttpSession(timeout=5)
    with pytest.raises(NonRetryableProviderError):
        NomicProvider(url=f"{embed_server}/e404").embed(sess, "x")


def test_http_transport_401_without_key(embed_server):
    sess = HttpSession(timeout=5)
    with pytest.raises(NonRetryableProviderError):
        # Granite payload shape but no X-API-Key header -> 401, must
        # surface immediately as non-retryable
        sess.post(f"{embed_server}/granite", json={"input": "x"})


def test_http_transport_connection_refused_is_transient():
    sess = HttpSession(timeout=2)
    prov = NomicProvider(url="http://127.0.0.1:9/nomic")  # discard port
    with pytest.raises(TransientProviderError):
        prov.embed(sess, "x")


def test_http_transport_through_spark_udf(embed_server, spark):
    """End-to-end: executor python workers call the live local server
    through the pandas_udf provider seam — the full production path of
    the reference's embedding stage, minus only the remote hostname."""
    url = f"{embed_server}/nomic"
    udf = make_provider_embedder(
        lambda: NomicProvider(url=url), lambda: HttpSession(timeout=10)
    )
    df = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(20)], "id int, text string"
    ).repartition(4)
    rows = df.select("id", "text", udf(F.col("text")).alias("e")).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.e == pytest.approx(hash_embed_one(r.text, 8), abs=1e-6)


# ---------------------------------------------------------------- rate
# limiting semantics


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )


def test_rate_limit_flags_cap_and_order(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1, same minute: 3 events -> cap 2 admits the 2 earliest
        (3, t0.replace(second=30), 1, 1.0),
        (1, t0.replace(second=10), 1, 1.0),
        (2, t0.replace(second=20), 1, 1.0),
        # user 1, next minute: counter resets
        (4, t0.replace(minute=1), 1, 1.0),
        # user 2 unaffected by user 1's burst
        (5, t0.replace(second=59), 2, 1.0),
        # same-ts tie broken by event_id
        (7, t0.replace(minute=2), 3, 1.0),
        (6, t0.replace(minute=2), 3, 1.0),
        (8, t0.replace(minute=2), 3, 1.0),
    ]
    out = lifecycle.rate_limit_flags(
        _events_df(spark, rows), cap=2, bucket="minute"
    )
    adm = {r.event_id: r.admitted for r in out.collect()}
    assert adm == {
        1: True, 2: True, 3: False, 4: True, 5: True,
        6: True, 7: True, 8: False,
    }


def test_rate_limit_admission_report(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (i, t0.replace(second=i), 1, 1.0) for i in range(5)
    ] + [(10, t0.replace(minute=30), 1, 1.0)]
    rep = lifecycle.rate_limit_admission(
        _events_df(spark, rows), cap=2, bucket="minute"
    ).collect()
    assert len(rep) == 1
    r = rep[0]
    assert (r.n_events, r.n_admitted, r.n_rejected, r.n_limited_windows) == (
        6, 3, 3, 1,
    )


# ---------------------------------------------------------------- NFC
# normalization semantics


def test_normalize_text_nfc_and_whitespace(spark):
    docs = spark.createDataFrame(
        [
            (1, "Cafe\u0301  du\u00a0Parc "),  # combining acute + NBSP
            (2, "Caf\u00e9 du Parc"),  # precomposed, already clean
            (3, None),
            (4, "a\t\tb\r\nc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in textanalysis.normalize_text_report(docs).collect()
    }
    # 1 and 2 normalize to the SAME bytes -> identical md5 (the dedup
    # motivation for this operator)
    assert out[1].norm_md5 == out[2].norm_md5
    assert out[1].changed and not out[2].changed
    assert out[3].norm_md5 is None and out[3].changed is None
    assert out[4].n_norm == 5  # "a b c"


# ---------------------------------------------------------------- retrieval
# metrics semantics


def test_retrieval_eval_perfect_and_absent(spark):
    # label 1: three identical vectors -> perfect retrieval at rank 1
    # label 2: one vector only -> n_relevant 0, no hits, mrr 0
    rows = [
        (1, [1.0, 0.0], 1),
        (2, [1.0, 0.0], 1),
        (3, [1.0, 0.0], 1),
        (4, [0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.qlabel: r for r in similarity.retrieval_eval(df, k=2).collect()}
    assert out[1].qid == 1
    assert out[1].hits_at_k == 2 and out[1].n_relevant == 2
    assert out[1].recall_at_k == 1.0 and out[1].first_rel_rank == 1
    assert out[1].mrr_at_k == 1.0
    assert out[2].hits_at_k == 0 and out[2].n_relevant == 0
    assert out[2].mrr_at_k == 0.0 and out[2].first_rel_rank == 0


# ---------------------------------------------------------------- OHLC /
# moments semantics


def test_resample_ohlc_open_close_by_ts_then_id(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # one 5-min bucket; same-ts ties at open broken by event_id
        (2, t0, "a", 10.0),
        (1, t0, "a", 20.0),       # id 1 wins open
        (3, t0.replace(minute=4), "a", 30.0),  # latest ts wins close
        (4, t0.replace(minute=7), "a", 5.0),   # second bucket
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = {
        r.bucket_s: r
        for r in aggregates.resample_ohlc(df, interval_sec=300).collect()
    }
    b0 = out[int(t0.replace(tzinfo=dt.timezone.utc).timestamp())]
    assert (b0.open, b0.close, b0.high, b0.low, b0.volume) == (
        20.0, 30.0, 30.0, 10.0, 3,
    )
    assert b0.value_sum == 60.0
    assert out[b0.bucket_s + 300].volume == 1


def test_higher_moments_exact_small_case(spark):
    # values 1,2,4,8: mu=3.75, population m2=7.1875
    df = spark.createDataFrame(
        [("g", v) for v in (1, 2, 4, 8)], "g string, v long"
    )
    r = aggregates.higher_moments(df, "g", "v").collect()[0]
    assert r.n == 4
    assert r.median == 3.0
    assert r.mean == 3.75
    mu, vals = 3.75, [1, 2, 4, 8]
    m2 = sum((x - mu) ** 2 for x in vals) / 4
    m3 = sum((x - mu) ** 3 for x in vals) / 4
    m4 = sum((x - mu) ** 4 for x in vals) / 4
    assert r.stddev_pop == pytest.approx(m2 ** 0.5, abs=1e-6)
    assert r.skewness == pytest.approx(m3 / m2 ** 1.5, abs=1e-6)
    assert r.exkurtosis == pytest.approx(m4 / m2 ** 2 - 3, abs=1e-6)


# ---------------------------------------------------------- plan shape


def test_retrieval_metrics_broadcasts_queries(spark):
    """The corpus must never shuffle for scoring: the query set and the
    label-count table enter as broadcast joins."""
    df = registry.queries()["retrieval_metrics"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") >= 2


# ---------------------------------------------------------------- FastSS
# fuzzy join / seasonal baseline semantics


def test_fuzzy_join_ed1_complete_for_all_edit_kinds(spark):
    from data_pipeline2_spark.operators.dedup import fuzzy_join_ed1

    left = spark.createDataFrame(
        [("wird",), ("word",), ("wordy",), ("wor",), ("zzzz",)], "w string"
    )
    right = spark.createDataFrame([("word",), ("ward",)], "w string")
    pairs = {
        (r.w1, r.w2, r.dist) for r in fuzzy_join_ed1(left, right).collect()
    }
    assert ("wird", "word", 1) in pairs   # substitution
    assert ("word", "word", 0) in pairs   # equality
    assert ("wordy", "word", 1) in pairs  # deletion
    assert ("wor", "word", 1) in pairs    # insertion
    assert ("wird", "ward", 1) in pairs   # substitution to the other side
    assert not any(p[0] == "zzzz" for p in pairs)  # nothing within ed 1


def test_seasonal_baseline_peak_flag(spark):
    import datetime as dtm

    from data_pipeline2_spark.operators.aggregates import seasonal_baseline

    rows = []
    # type "a": value 10 at hour 9 (x2), value 1 at hour 3 (x2)
    for i, (h, v) in enumerate([(9, 10.0), (9, 10.0), (3, 1.0), (3, 1.0)]):
        rows.append((i, dtm.datetime(2024, 1, 1, h, 0, 0), 1, "a", v, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r.hod: r for r in seasonal_baseline(df).collect()}
    assert out[9].is_peak and not out[3].is_peak
    assert out[9].hod_mean == 10.0 and out[9].overall_mean == 5.5
    assert out[9].ratio == round(10.0 / 5.5, 6)
    assert out[3].n == 2


def test_topic_cluster_terms_surfaces_distinctive_vocab(spark):
    from data_pipeline2_spark.operators.similarity import topic_cluster_terms

    # two well-separated clusters with disjoint distinctive vocabulary
    # plus one shared stopword-like term everywhere
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.1], 0),
            (2, [0.0, 1.0], 1),
            (3, [0.1, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    docs = spark.createDataFrame(
        [
            (0, "the quark quark boson"),
            (1, "the quark lepton"),
            (2, "the sonnet stanza stanza"),
            (3, "the sonnet rhyme"),
        ],
        "doc_id long, text string",
    )
    out = topic_cluster_terms(emb, docs, k=2, n_iter=1, top_n=2).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r.w)
    all_terms = {w for ws in by_cluster.values() for w in ws}
    # "the" appears in every doc -> lift 1.0 everywhere, never beats the
    # cluster-specific terms
    assert "the" not in all_terms
    physics = {"quark", "boson", "lepton"}
    poetry = {"sonnet", "stanza", "rhyme"}
    sets = [set(ws) for ws in by_cluster.values()]
    assert any(s <= physics for s in sets) and any(s <= poetry for s in sets)


def test_winsorized_stats_clips_outliers(spark):
    from data_pipeline2_spark.operators.aggregates import winsorized_stats

    # 9 ones and one huge outlier: p95 lands between, the outlier is
    # clipped to it, and the winsorized mean stays near 1
    rows = [("a", 1.0)] * 9 + [("a", 1000.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = winsorized_stats(df, "g", "v").collect()[0]
    assert r.n == 10 and r.n_clipped_hi == 1 and r.n_clipped_lo == 0
    assert r.p_hi < 1000.0
    # clipped mean = (9*1 + p_hi) / 10, far below the raw mean 100.9
    assert r.wins_mean == round((9 + r.p_hi) / 10, 6)
    assert r.wins_mean < 100


def test_ngram_novelty_flags_stitched_docs(spark):
    from data_pipeline2_spark.operators.quality import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),     # all shingles first-seen
            (2, "alpha beta gamma delta"),     # verbatim copy: novelty 0
            (3, "omega psi chi phi"),          # fresh again
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_novelty(docs, shingle_n=3).collect()}
    assert out[1].novelty == 1.0
    assert out[2].novelty == 0.0 and out[2].n_novel == 0
    assert out[3].novelty == 1.0
    assert out[1].n_shingles == 2  # 4 tokens -> two 3-gram shingles


def test_bigram_logprob_orders_fluency(spark):
    import math

    from data_pipeline2_spark.operators.quality import bigram_logprob

    # "a b" occurs 3x out of 4 bigrams starting with "a"; "a x" once.
    docs = spark.createDataFrame(
        [
            (1, "a b"), (2, "a b"), (3, "a b"),
            (4, "a x"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    # common continuation scores higher (less negative) than the rare one
    assert out[1].avg_logprob > out[4].avg_logprob
    assert out[1].avg_logprob == round(
        math.floor(math.log(3 / 4) * 1e10) / 1e10, 6
    )
    assert out[4].n_bigrams == 1


# ---------------------------------------------------------------- r6
# review-fix regressions


def test_normalize_changed_flag_catches_length_preserving_rewrites(spark):
    """NBSP -> space preserves codepoint count; `changed` must still
    fire (it compares strings, not lengths)."""
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in textanalysis.normalize_text_report(docs).collect()
    }
    assert out[1].n_raw == out[1].n_norm == 3
    assert out[1].changed is True
    assert out[2].changed is False
    assert out[1].norm_md5 == out[2].norm_md5


def test_normalize_strip_is_portable_not_unicode_wide(spark):
    """Python .strip() would eat \\x0b; the portable contract (and the
    DuckDB oracle) must leave codepoints outside the declared class."""
    docs = spark.createDataFrame(
        [(1, "abc\x0b"), (2, "abc ")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in textanalysis.normalize_text_report(docs).collect()
    }
    assert out[1].n_norm == 4  # vertical tab survives
    assert out[2].n_norm == 3  # trailing space trimmed


def test_canonicalize_url_spares_lookalike_params(spark):
    """href=/pref= must never be mistaken for the ref tracking param."""
    from data_pipeline2_spark.operators.quality import canonicalize_url

    df = spark.createDataFrame(
        [
            (1, "https://ex.com/a?href=/x&id=7"),
            (2, "https://ex.com/a?pref=1&b=2"),
            (3, "https://ex.com/a?utm_a=1&utm_b=2&x=3"),  # consecutive
            (4, "https://ex.com/a?fref=x"),
        ],
        "doc_id long, url string",
    )
    got = {
        r.doc_id: r.c
        for r in df.select(
            "doc_id", canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    assert got[1] == "https://ex.com/a?href=/x&id=7"
    assert got[2] == "https://ex.com/a?pref=1&b=2"
    assert got[3] == "https://ex.com/a?x=3"
    assert got[4] == "https://ex.com/a?fref=x"


def test_zorder_bits_cover_bench_scale_user_domain(spark):
    """users 256 apart must NOT alias onto one z-value (the 8-bit bug:
    at sf0.1 user_id reaches 1499)."""
    from data_pipeline2_spark.plans.zorder import zorder_key
    from data_pipeline2_spark.registry.curation_r6 import _Z_BITS

    df = spark.createDataFrame(
        [(5, 3), (261, 3), (1499, 3)], "x long, y long"
    )
    zs = [
        r.z
        for r in df.select(
            zorder_key([F.col("x"), F.col("y")], bits=_Z_BITS).alias("z")
        ).collect()
    ]
    assert len(set(zs)) == 3


def test_higher_moments_constant_group_is_null_not_nan(spark):
    df = spark.createDataFrame(
        [("c", 7)] * 5, "g string, v long"
    )
    r = aggregates.higher_moments(df, "g", "v").collect()[0]
    assert r.stddev_pop == 0.0
    assert r.skewness is None and r.exkurtosis is None
    assert r.mean == 7.0 and r.median == 7.0


def test_winsorized_constant_group_stddev_zero(spark):
    from data_pipeline2_spark.operators.aggregates import winsorized_stats

    df = spark.createDataFrame([("c", 2.5)] * 4, "g string, v double")
    r = winsorized_stats(df, "g", "v").collect()[0]
    assert r.wins_stddev == 0.0 and r.wins_mean == 2.5


def test_rate_limit_matches_python_reference_model(spark):
    """Seeded random traffic through the Spark limiter vs a direct
    python model of the spec (sort by (ts, id) within (user, minute),
    admit first cap) — the randomized check unit cases can't cover."""
    import random

    rng = random.Random(42)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for eid in range(400):
        rows.append(
            (
                eid,
                t0 + dt.timedelta(seconds=rng.randrange(0, 1800)),
                rng.randrange(1, 6),
                1.0,
            )
        )
    cap = 3
    out = lifecycle.rate_limit_flags(
        _events_df(spark, rows), cap=cap, bucket="minute"
    )
    got = {r.event_id: r.admitted for r in out.collect()}

    from collections import defaultdict

    windows = defaultdict(list)
    for eid, ts, uid, _ in rows:
        windows[(uid, ts.replace(second=0, microsecond=0))].append((ts, eid))
    want = {}
    for evs in windows.values():
        for rank, (_, eid) in enumerate(sorted(evs), 1):
            want[eid] = rank <= cap
    assert got == want


def test_distribution_entropy_bounds(spark):
    import math

    from data_pipeline2_spark.operators.aggregates import (
        distribution_entropy,
    )

    rows = (
        [(1, "a")] * 8                                  # monomaniac: H=0
        + [(2, "a"), (2, "b"), (2, "c"), (2, "d")]      # uniform: ln 4
        + [(3, "a")] * 3 + [(3, "b")]                   # skewed: between
    )
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {
        r.user_id: r
        for r in distribution_entropy(df, "user_id", "event_type").collect()
    }
    assert out[1].entropy == 0.0 and out[1].n_cats == 1
    assert out[2].entropy == round(math.log(4), 6)
    assert 0.0 < out[3].entropy < out[2].entropy


def test_sparse_cosine_topk_identical_docs_score_one(spark):
    from data_pipeline2_spark.operators.similarity import sparse_cosine_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta"),
            (2, "alpha beta beta"),      # identical tf vector -> score 1
            (3, "gamma delta"),          # disjoint from 1/2 -> no pair
            (4, "alpha gamma"),          # partial overlap with both
        ],
        "doc_id long, text string",
    )
    out = sparse_cosine_topk(docs, k=3).collect()
    pairs = {(r.doc_a, r.doc_b): r.score for r in out}
    assert pairs[(1, 2)] == 1.0 and pairs[(2, 1)] == 1.0  # symmetric
    assert (1, 3) not in pairs and (3, 1) not in pairs
    assert 0.0 < pairs[(3, 4)] < 1.0
    # EVERY doc gets a neighbor list, ranked over the full matrix:
    # doc 2's nearest neighbor is its identical twin doc 1 (the
    # half-matrix bug ranked doc 3 first and gave doc 4 no list)
    rank1 = {r.doc_a: r.doc_b for r in out if r.rank == 1}
    assert rank1[1] == 2 and rank1[2] == 1
    assert 4 in rank1


def test_new_operator_arg_guards(spark):
    """Misconfiguration fails fast at plan-build time, not mid-job."""
    from data_pipeline2_spark.operators.aggregates import (
        distribution_entropy,
        resample_ohlc,
        winsorized_stats,
    )
    from data_pipeline2_spark.operators.similarity import (
        retrieval_eval,
        sparse_cosine_topk,
        topic_cluster_terms,
    )

    df = spark.range(1)
    with pytest.raises(ValueError):
        lifecycle.rate_limit_flags(df, cap=0)
    with pytest.raises(ValueError):
        winsorized_stats(df, "id", "id", lo_p=0.9, hi_p=0.1)
    with pytest.raises(ValueError):
        resample_ohlc(df, interval_sec=0)
    with pytest.raises(ValueError):
        retrieval_eval(df, k=0)
    with pytest.raises(ValueError):
        topic_cluster_terms(df, df, k=0)
    with pytest.raises(ValueError):
        sparse_cosine_topk(df, df_cap=0.0)
    with pytest.raises(ValueError):
        distribution_entropy(df, "id", "id", scale=0)


def test_ngram_novelty_incremental_vs_store(spark):
    from data_pipeline2_spark.operators.dedup import shingle_fingerprints
    from data_pipeline2_spark.operators.quality import ngram_novelty_vs_store

    old = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta"),   # fully seen -> novelty 0
            (11, "omega psi chi phi"),        # fully new -> novelty 1
            (12, "omega psi chi phi"),        # repeat WITHIN batch: still
                                              # novel vs the store epoch
        ],
        "doc_id long, text string",
    )
    store = shingle_fingerprints(old).select("sh64")
    out = {
        r.doc_id: r for r in ngram_novelty_vs_store(new, store).collect()
    }
    assert out[10].novelty == 0.0
    assert out[11].novelty == 1.0
    assert out[12].novelty == 1.0  # epoch semantics, not batch-internal
