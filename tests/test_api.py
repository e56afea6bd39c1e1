"""HTTP API veneer tests — the reference's E2E script flow
(test_full_pipeline.py: upload → status → chunks → search) over the
stdlib server."""

from __future__ import annotations

import json
import urllib.request

import pytest

from data_pipeline2_spark.api import serve, stop_server

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def base_url(spark):
    server = serve(spark, SF, port=0)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    stop_server(server)


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url, data: bytes, headers=None):
    req = urllib.request.Request(url, data=data, headers=headers or {})
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health(base_url):
    assert _get(f"{base_url}/health") == (200, {"status": "ok"})


def test_document_lookup_and_status(base_url):
    code, doc = _get(f"{base_url}/api/v1/documents/7")
    assert code == 200 and doc["doc_id"] == 7 and doc["status"] == "completed"
    code, st = _get(f"{base_url}/api/v1/documents/7/status")
    assert code == 200 and st == {"doc_id": 7, "status": "completed"}
    code, _ = _get(f"{base_url}/api/v1/documents/99999999/status")
    assert code == 404


def test_upload_then_fetch_chunks(base_url):
    body = b"First sentence of the upload. Second one follows! A third?"
    code, resp = _post(
        f"{base_url}/api/v1/documents/?filename=note.txt", body
    )
    assert code == 200 and resp["status"] == "completed"
    doc_id = resp["doc_id"]
    code, chunks = _get(f"{base_url}/api/v1/documents/{doc_id}/chunks")
    assert code == 200
    contents = " ".join(c["content"] for c in chunks["chunks"])
    assert "First sentence" in contents


def test_search_endpoint(base_url):
    code, resp = _post(
        f"{base_url}/api/v1/documents/search",
        json.dumps({"query": "spark query engine", "k": 5}).encode(),
        {"Content-Type": "application/json"},
    )
    assert code == 200
    results = resp["results"]
    assert len(results) == 5
    scores = [r["score"] for r in results]
    assert scores == sorted(scores, reverse=True)


def test_error_paths(base_url):
    code, _ = _post(f"{base_url}/api/v1/documents/", b"")  # empty upload
    assert code == 400
    code, _ = _post(f"{base_url}/api/v1/documents/search", b"not json")
    assert code == 400
    code, _ = _post(f"{base_url}/api/v1/documents/search", b"{}")
    assert code == 400  # missing query
    code, _ = _get(f"{base_url}/api/v1/documents/notanum/status")
    assert code == 400


def test_malformed_bodies_get_400_not_dropped(base_url):
    # non-object JSON, wrong types, out-of-range k: all must answer 400
    for body in (b"[1,2]", b'{"query": 5}', b'{"query": "x", "k": "abc"}',
                 b'{"query": "x", "k": -1}', b'{"query": "x", "k": true}'):
        code, resp = _post(f"{base_url}/api/v1/documents/search", body)
        assert code == 400, (body, code, resp)


def test_out_of_range_doc_id_is_400(base_url):
    code, _ = _get(f"{base_url}/api/v1/documents/99999999999999999999999/status")
    assert code == 400


def test_trailing_segments_404(base_url):
    code, _ = _get(f"{base_url}/api/v1/documents/7/status/extra/junk")
    assert code == 404


def test_uniform_document_shape(base_url):
    code, corpus_doc = _get(f"{base_url}/api/v1/documents/7")
    code2, up = _post(f"{base_url}/api/v1/documents/?filename=s.txt", b"one two")
    code3, up_doc = _get(f"{base_url}/api/v1/documents/{up['doc_id']}")
    assert set(corpus_doc) == set(up_doc)  # identical key set
    assert corpus_doc["origin"] == "corpus" and up_doc["origin"] == "upload"


def test_chunks_corpus_doc_and_absent_id(base_url):
    code, resp = _get(f"{base_url}/api/v1/documents/7/chunks")
    assert code == 200 and resp["chunks"]
    assert {c["doc_id"] for c in resp["chunks"]} == {7}
    code, resp = _get(f"{base_url}/api/v1/documents/99999999/chunks")
    assert (code, resp) == (404, {"error": "not found"})


def test_get_chunks_empty_text_is_found(spark):
    # get_chunks reads "no chunk rows" as "no such document", which
    # holds because empty or NULL text still packs to one "" chunk
    from data_pipeline2_spark.api import EngineAPI

    api = EngineAPI(spark, SF)
    api.documents = spark.createDataFrame(
        [(1, ""), (2, None)], "doc_id long, text string"
    )
    for doc_id in (1, 2):
        chunks = api.get_chunks(doc_id)
        assert [c["content"] for c in chunks] == [""], doc_id
    assert api.get_chunks(3) is None


@pytest.mark.driver
def test_upload_without_terminator_chunks_in_linear_time(spark):
    # a long upload with no sentence terminator: the full-text regex
    # backtracks quadratically over it (tens of seconds at this length,
    # stalling the single-threaded server); the tail cut is one pass.
    # The word-unit fallback must still rebuild the upload's words.
    import time

    from data_pipeline2_spark.api import EngineAPI

    api = EngineAPI(spark, SF)
    api.upload(b"warm up the seam. once", "warm.txt")  # cold start, untimed
    words = [f"word{i}" for i in range(8000)]
    text = " ".join(words)
    assert len(text) >= 60_000
    t0 = time.perf_counter()
    resp = api.upload(text.encode(), "no_terminator.txt")
    elapsed = time.perf_counter() - t0
    chunks = sorted(api.uploads[resp["doc_id"]]["chunks"], key=lambda c: c["pos"])
    assert " ".join(c["content"] for c in chunks).split(" ") == words
    assert elapsed < 4.0, f"upload took {elapsed:.1f}s"


def test_handler_logs_swallowed_errors(monkeypatch, caplog):
    # an exception escaping the route handlers is logged, not dropped
    # silently; the connection still just closes
    from http.server import BaseHTTPRequestHandler

    from data_pipeline2_spark.api import make_handler

    def boom(self):
        raise RuntimeError("socket went away")

    monkeypatch.setattr(BaseHTTPRequestHandler, "handle_one_request", boom)
    cls = make_handler(None)
    handler = cls.__new__(cls)  # no socket: only the wrapper runs
    with caplog.at_level("ERROR", logger="data_pipeline2_spark.api"):
        handler.handle_one_request()
    assert any(
        r.exc_info and "socket went away" in str(r.exc_info[1])
        for r in caplog.records
    )
