"""HTTP API veneer — the engine analog of the reference's FastAPI
surface (doc_pipeline/api/main.py + api/routes/documents.py), built on
the stdlib only (fastapi is not available in this environment).

Endpoints mirror the reference contract:

  GET  /health                           (api/main.py health check)
  POST /api/v1/documents/                upload bytes (?filename=...) →
                                         {doc_id, status: pending}
                                         (api/routes/documents.py:26-43)
  GET  /api/v1/documents/{id}            document row
  GET  /api/v1/documents/{id}/status     status projection (:59-71)
  POST /api/v1/documents/search          {"query": text, "k": n} →
                                         cosine kNN over embeddings
                                         (:120-130 + vector_storage kNN)
  GET  /api/v1/documents/{id}/chunks     chunker output for one doc

The server is a thin veneer: every request maps onto the same operators
the batch/driver surface uses (point_lookup, knn_cosine, chunk_*,
hash embedder). Uploads are processed SYNCHRONOUSLY (chunk on ingest)
— the reference's async queue semantics live in streaming/events.py;
an API worker would submit to that stream in a real deployment.
"""

from __future__ import annotations

import base64 as _b64
import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def _sentence_chunks(df) -> list[dict]:
    """The chunks the upload and /chunks routes serve: exact sentence
    packing at 500 chars with chunk metadata, one dict per chunk."""
    from data_pipeline2_spark.operators import chunking

    out = chunking.chunk_metadata_enrich(
        chunking.chunk_sentence_exact(df, 500), "sentence"
    )
    return [r.asDict() for r in out.collect()]


class EngineAPI:
    """Holds the session + corpus and implements each endpoint."""

    def __init__(self, spark, sf_dir: str):
        from data_pipeline2_spark.sources.parquet import load_table

        self.spark = spark
        self.sf_dir = sf_dir
        self.documents = load_table(spark, sf_dir, "documents")
        self.embeddings = load_table(spark, sf_dir, "embeddings")
        # uploaded docs (this process); bounded LRU-ish store — the
        # durable path is the parquet sink, not driver memory
        self.max_uploads = 256
        self.uploads: dict[int, dict] = {}
        self._lock = threading.Lock()

    # ---- endpoint implementations ----

    def upload(self, payload: bytes, filename: str) -> dict:
        text = payload.decode("utf-8", errors="replace")
        doc_id = int.from_bytes(
            __import__("hashlib").sha256(filename.encode() + payload).digest()[:6],
            "big",
        )
        df = self.spark.createDataFrame([(doc_id, text)], "doc_id long, text string")
        rows = _sentence_chunks(df)
        with self._lock:
            while len(self.uploads) >= self.max_uploads:
                self.uploads.pop(next(iter(self.uploads)))  # evict oldest
            self.uploads[doc_id] = {
                "doc_id": doc_id,
                "filename": filename,
                "status": "completed",
                "content_b64": _b64.b64encode(payload).decode(),
                "chunks": rows,
            }
        return {"doc_id": doc_id, "status": "completed", "n_chunks": len(rows)}

    def get_document(self, doc_id: int) -> dict | None:
        # one response shape for both origins: absent fields are null,
        # and "origin" says which store served the row
        shape = {"doc_id": doc_id, "filename": None, "lang": None,
                 "source": None, "n_chars": None, "status": None,
                 "origin": None}
        with self._lock:
            if doc_id in self.uploads:
                up = self.uploads[doc_id]
                shape.update(filename=up["filename"], status=up["status"],
                             origin="upload")
                return shape
        from data_pipeline2_spark.operators.relational import point_lookup

        rows = point_lookup(self.documents, "doc_id", doc_id).collect()
        if not rows:
            return None
        r = rows[0]
        shape.update(lang=r["lang"], source=r["source"], n_chars=r["n_chars"],
                     status="completed", origin="corpus")
        return shape

    def get_status(self, doc_id: int) -> dict | None:
        doc = self.get_document(doc_id)
        return {"doc_id": doc_id, "status": doc["status"]} if doc else None

    def get_chunks(self, doc_id: int) -> list | None:
        with self._lock:
            if doc_id in self.uploads:
                return self.uploads[doc_id]["chunks"]
        # chunk_sentence_exact emits at least one row per document (empty
        # text packs to [""]), so no rows means no such document
        doc = self.documents.filter(F.col("doc_id") == doc_id)
        return _sentence_chunks(doc) or None

    def search(self, query: str, k: int = 10) -> list:
        from data_pipeline2_spark.operators.embedding import hash_embed_one
        from data_pipeline2_spark.operators.similarity import knn_cosine

        qvec = hash_embed_one(query)  # DEFAULT_DIM keeps query/corpus in lockstep
        hits = knn_cosine(self.embeddings, qvec, k=k)
        return [{"vec_id": r["vec_id"], "score": r["score"]} for r in hits.collect()]


def make_handler(api: EngineAPI):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # silence request logging in tests
            pass

        def handle_one_request(self):
            # catch-all: an engine failure must surface as HTTP 500, not
            # a dropped connection with a console traceback
            try:
                super().handle_one_request()
            except Exception:
                _log.exception(
                    "request failed: %s", getattr(self, "requestline", "")
                )

        def _send(self, code: int, obj):
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            try:
                self._route_get()
            except Exception as exc:
                self._send(500, {"error": f"internal error: {type(exc).__name__}"})

        def do_POST(self):
            try:
                self._route_post()
            except Exception as exc:
                self._send(500, {"error": f"internal error: {type(exc).__name__}"})

        def _route_get(self):
            parts = urlparse(self.path)
            seg = [s for s in parts.path.split("/") if s]
            if seg == ["health"]:
                return self._send(200, {"status": "ok"})
            if len(seg) >= 4 and seg[:3] == ["api", "v1", "documents"]:
                try:
                    doc_id = int(seg[3])
                    if not (-(1 << 63) <= doc_id < (1 << 63)):
                        raise ValueError("out of 64-bit range")
                except ValueError:
                    return self._send(
                        400, {"error": "doc_id must be a 64-bit integer"}
                    )
                if len(seg) == 4:
                    doc = api.get_document(doc_id)
                    return (
                        self._send(200, doc)
                        if doc
                        else self._send(404, {"error": "not found"})
                    )
                if len(seg) == 5 and seg[4] == "status":
                    st = api.get_status(doc_id)
                    return (
                        self._send(200, st)
                        if st
                        else self._send(404, {"error": "not found"})
                    )
                if len(seg) == 5 and seg[4] == "chunks":
                    ch = api.get_chunks(doc_id)
                    return (
                        self._send(200, {"doc_id": doc_id, "chunks": ch})
                        if ch is not None
                        else self._send(404, {"error": "not found"})
                    )
            return self._send(404, {"error": "unknown route"})

        def _route_post(self):
            parts = urlparse(self.path)
            seg = [s for s in parts.path.split("/") if s]
            length = int(self.headers.get("Content-Length", "0"))
            payload = self.rfile.read(length) if length else b""
            if seg == ["api", "v1", "documents"]:
                filename = parse_qs(parts.query).get("filename", ["upload.txt"])[0]
                if not payload:
                    return self._send(400, {"error": "empty body"})
                return self._send(200, api.upload(payload, filename))
            if seg == ["api", "v1", "documents", "search"]:
                try:
                    req = json.loads(payload or b"{}")
                except json.JSONDecodeError:
                    return self._send(400, {"error": "invalid JSON"})
                if not isinstance(req, dict):
                    return self._send(400, {"error": "body must be a JSON object"})
                query = req.get("query")
                if not isinstance(query, str) or not query:
                    return self._send(
                        400, {"error": "'query' must be a non-empty string"}
                    )
                k = req.get("k", 10)
                if not isinstance(k, int) or isinstance(k, bool) or not 1 <= k <= 1000:
                    return self._send(
                        400, {"error": "'k' must be an integer in [1, 1000]"}
                    )
                return self._send(200, {"results": api.search(query, k)})
            return self._send(404, {"error": "unknown route"})

    return Handler


def serve(spark, sf_dir: str, port: int = 0):
    """Start the API server (port 0 = ephemeral); returns the server
    (with .server_address). Stop with `stop_server(server)` (shutdown
    alone leaves the listening socket bound)."""
    api = EngineAPI(spark, sf_dir)
    server = ThreadingHTTPServer(("127.0.0.1", port), make_handler(api))
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server


def stop_server(server) -> None:
    """Stop serve_forever AND close the listening socket (shutdown()
    alone leaks the bound fd → EADDRINUSE on fixed-port restarts)."""
    server.shutdown()
    server.server_close()
