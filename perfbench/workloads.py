"""The three workloads: curate, ingest and serve.

Each workload has the same life cycle, driven by `run.py`:

1. `generate()` writes the seeded inputs, outside every timing;
2. `load(spark)` is the table-load half of one set-up;
3. `warm_up()` lets JIT compilation and lazy set-up finish before
   timing where users do not pay them on every run: serve sends a few
   requests of each kind; the batch workloads (curate, ingest) time the
   first iteration of a fresh application, as a batch job runs;
4. `measure()` runs the timed part without tracing and fills `detail`
   with the workload-specific end-to-end numbers;
5. `traced(tracer)` runs the same work again with job-group labels, for
   the per-layer numbers, next to an untraced run of that same work for
   `trace.overhead_s`;
6. `check(expected)` compares every recorded output with the values
   `expected(con)` gets from the DuckDB oracle, which runs while the
   session stops.

Only public entry points of the engine are called:
`pipeline_e2e.training_pipeline_frames` / `training_pipeline_census`,
`serving_e2e.semantic_search_census`, the `streaming_search_e2e`
registry key and `api.serve` / `EngineAPI`. To put the jobs of a
traced iteration under the member operator that ran them, the benchmark
swaps a few module attributes of the engine for labelling wrappers
(`Tracer.labelled`) and restores them afterwards; the package itself is
not edited.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import oracle
from tracing import NullTracer, StreamProbe, Tracer


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs, q) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-len(s) * q // 100) - 1))]


class Workload:
    name = ""
    needs_embeddings = False
    n_docs = gen.N_DOCS

    def __init__(self, seed: int, work: str, seconds: float):
        self.seed = seed
        self.lake = os.path.join(work, "lake")
        self.seconds = seconds
        self.spark = None
        self.attempted = 0
        self.failed = 0  # failed or wrong operations
        self.wrong: list[str] = []
        self.outputs: list[tuple[str, str, object]] = []  # label, key, frame
        self.times: list[float] = []  # samples behind op_p50_ms, seconds
        self.detail: dict[str, float] = {}  # workload-specific e2e numbers

    def generate(self) -> None:
        self.docs = gen.write_lake(self.seed, self.lake, n_docs=self.n_docs,
                                   with_embeddings=self.needs_embeddings)

    def load(self, spark) -> None:
        from data_pipeline2_spark.sources.parquet import load_table

        self.spark = spark
        self.documents = load_table(spark, self.lake, "documents")
        self.documents.count()

    def close(self) -> None:
        pass

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.wrong.append(what)

    def _run(self, label: str, key: str, fn) -> float:
        """Run one operation, keep its output for `check`; seconds."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got = fn()
        except Exception as exc:  # counted as failed; the run goes on
            self._fail(f"{label} raised {type(exc).__name__}: {exc}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.outputs.append((label, key, got))
        return dt

    def warm_up(self) -> None:
        """Batch jobs run in a fresh application, so by default the
        first iteration is timed cold, as a user's batch job runs."""

    def measure(self) -> None:
        """One timed iteration: the first of a fresh application."""
        t0 = time.perf_counter()
        self.detail = self.iteration()
        self.times.append(time.perf_counter() - t0)

    def check(self, expected: dict) -> None:
        for label, key, got in self.outputs:
            diff = oracle.mismatch(got, expected[key])
            if diff:
                self._fail(f"{label}: {diff}")

    def op_ms(self) -> float:
        return 1000.0 * median(self.times)


class Curate(Workload):
    """One curation pass per iteration over the seeded lake."""

    name = "curate"

    def expected(self, con) -> dict:
        return {"census": oracle.curate_expected(con)}

    def iteration(self) -> dict:
        from data_pipeline2_spark.operators import pipeline_e2e

        return {"curate_s": self._run(
            "curate pass", "census", lambda: pipeline_e2e
            .training_pipeline_census(self.documents).toPandas())}

    def traced(self, tr: Tracer) -> dict:
        """The staged pass traced, then the same staged pass untraced
        (same frames, stage counts and census, no spans and no labelling
        wrappers); `trace.overhead_s` is the difference. The untraced
        pass runs warmer, so if anything the overhead reads high."""
        out = self._staged(tr)
        untraced = self._staged(NullTracer())["wall_s"]
        out["trace.overhead_s"] = out.pop("wall_s") - untraced
        return out

    def _staged(self, tr) -> dict:
        """The pass from `training_pipeline_frames`. Jobs the frames
        call runs eagerly land in the group of the member operator that
        ran them; then each stage frame is counted in stage order under
        its own group, which runs its lazy parts, and the census is
        taken from the frames."""
        from data_pipeline2_spark.operators import chunking, dedup
        from data_pipeline2_spark.operators import pipeline_e2e as pe

        stages = [
            ("textanalysis.quality", "s2"),
            ("textanalysis.decontaminate", "s3"),
            ("dedup.exact", "s4"),
            ("dedup.near", "s5"),
            ("chunking.curate", "chunks"),
            ("sampling.pack_split", "final"),
            ("expectations.gate", "checks"),
        ]
        members = [
            (pe, "quality_score", "textanalysis.quality"),
            # the eval set is the first job to read the quality manifest
            (pe, "materialize", "textanalysis.quality"),
            (pe, "decontaminate", "textanalysis.decontaminate"),
            (pe, "decontaminate_bloom", "textanalysis.decontaminate"),
            (dedup, "dedup_exact", "dedup.exact"),
            (dedup, "dedup_near_minhash", "dedup.near"),
            (dedup, "dedup_clusters", "dedup.near"),
            (chunking, "chunk_sentence", "chunking.curate"),
            (pe, "train_test_split", "sampling.pack_split"),
            (pe, "check_expectations", "expectations.gate"),
        ]
        n = {}
        t0 = time.perf_counter()
        with tr.labelled(members):
            fr = pe.training_pipeline_frames(self.documents)
        for group, frame in stages:
            with tr.span(group):
                n[frame] = fr[frame].count()
        with tr.span("plans.census"):
            self._run("traced curate pass", "census",
                      lambda: pe.census_from_frames(fr).toPandas())
        wall = time.perf_counter() - t0
        g = tr.group_stats()
        return {
            "wall_s": wall,
            **{f"{group}_s": g[group]["wall_s"] for group, _ in stages},
            "dedup.near_kept_ratio": n["s5"] / max(1, n["s4"]),
        }


class Ingest(Workload):
    """Per iteration: (a) the batch index build and (b) the streaming
    ingest into the IVF layout, both on the seeded lake."""

    name = "ingest"
    #: half the curate lake: a cold iteration is mostly fixed cost (on a
    #: shared 4-vCPU VM about 33 s against 37 s on the full lake), and
    #: the full lake's run does not fit the time all runs may take
    n_docs = gen.N_DOCS // 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.query = gen.ingest_query(self.seed)

    def expected(self, con) -> dict:
        return {"build": oracle.semantic_expected(con, self.query),
                "stream": oracle.streaming_expected(con)}

    def _build(self):
        from data_pipeline2_spark.operators import serving_e2e

        return serving_e2e.semantic_search_census(
            self.documents, query_text=self.query).toPandas()

    def _stream(self):
        from data_pipeline2_spark import registry

        return registry.queries()["streaming_search_e2e"](
            self.spark, self.lake).toPandas()

    def iteration(self) -> dict:
        return {
            "index_build_s":
                self._run("batch index build", "build", self._build),
            "stream_ingest_s":
                self._run("streaming ingest", "stream", self._stream),
        }

    def traced(self, tr: Tracer) -> dict:
        """The iteration traced, then once more untraced;
        `trace.overhead_s` is the difference. The untraced one runs
        warmer, so if anything the overhead reads high."""
        from data_pipeline2_spark.operators import serving_e2e as se

        # the build's 1st eager materialize is the chunk store, the 2nd
        # the index (it embeds the cache misses); the key join's guard
        # job fills the lazy embedding cache
        members = [
            (se, "materialize", ["chunking.ingest", "embedding.embed_miss"]),
            (se, "adaptive_key_join", "embedding.cache_fill"),
        ]
        n_out = len(self.outputs)
        t0 = time.perf_counter()
        with tr.span("ingest.build"), tr.labelled(members):
            self._run("traced batch index build", "build", self._build)
        census = self.outputs[-1][2] if len(self.outputs) > n_out else None
        probe = StreamProbe()
        self.spark.streams.addListener(probe)
        try:
            with tr.span("streaming"):
                stream_s = self._run("traced streaming ingest", "stream",
                                     self._stream)
            wall = time.perf_counter() - t0
            probe.wait_for(3, timeout=5.0)
        finally:
            self.spark.streams.removeListener(probe)
        t0 = time.perf_counter()
        self.iteration()
        untraced = time.perf_counter() - t0
        g = tr.group_stats()
        rows = ({} if census is None
                else dict(zip(census["stage"], census["rows_out"])))
        trig = [b.get("triggerExecution", 0.0) for b in probe.batches]
        return {
            "trace.overhead_s": wall - untraced,
            "embedding.cache_hit_ratio":
                rows.get("cache_lookup", 0) / max(1, rows.get("chunk", 0)),
            "embedding.embed_miss_s": g["embedding.embed_miss"]["wall_s"],
            "materialize.jobs": g["chunking.ingest"]["jobs"]
            + g["embedding.embed_miss"]["jobs"],
            "chunking.ingest_s": g["chunking.ingest"]["wall_s"],
            "streaming.batches": len(probe.batches),
            "streaming.batch_ms_p50": median(trig),
            **{f"streaming.{k}_ms": sum(b.get(k, 0.0) for b in probe.batches)
               for k in ("addBatch", "walCommit", "commitOffsets",
                         "queryPlanning")},
            "streaming.nonbatch_s": stream_s - sum(trig) / 1000.0,
            "_batches": probe.batches,
        }


class Serve(Workload):
    """Open loop of requests against `api.serve`, from one sender."""

    name = "serve"
    needs_embeddings = True
    RATE = 1.0  # requests per second; the sender is busy under half the time
    WARM_ROUNDS = 1
    WARM_SENDERS = 4
    WARM_SEARCHES = 6
    TIMEOUT_S = 30.0

    def generate(self) -> None:
        super().generate()
        cols = ("doc_id", "text", "lang", "source", "n_chars")
        self.lake_docs = {
            row[0]: row[1:]
            for row in zip(*[self.docs[c].to_pylist() for c in cols])
        }
        ids = sorted(self.lake_docs)
        self.requests = gen.schedule(self.seed, self.seconds, self.RATE, ids)
        # warm-up, from another schedule: the first WARM_ROUNDS requests
        # of each kind, sent together, then WARM_SEARCHES searches one
        # after another (the search path keeps getting faster for a while)
        counts, self.warm_requests, self.warm_searches = {}, [], []
        for r in gen.schedule(self.seed + 10**6, 120.0, self.RATE, ids):
            if r.upload_ref is None and counts.get(r.kind, 0) < self.WARM_ROUNDS:
                counts[r.kind] = counts.get(r.kind, 0) + 1
                self.warm_requests.append(r)
            elif r.kind == "search" and len(self.warm_searches) < self.WARM_SEARCHES:
                self.warm_searches.append(r)
        for r in self.warm_requests + self.warm_searches:
            r.due = 0.0

    def expected(self, con) -> dict:
        texts = sorted({r.query for r in self.requests + self.warm_requests
                        + self.warm_searches if r.kind == "search"})
        return {"knn": oracle.knn_expected(con, texts, max(gen.SEARCH_K))}

    def load(self, spark) -> None:
        from data_pipeline2_spark import api

        self.spark = spark
        self.server = api.serve(spark, self.lake)
        self.host, self.port = self.server.server_address[:2]

    def close(self) -> None:
        from data_pipeline2_spark import api

        if getattr(self, "server", None) is not None:  # load may have failed
            api.stop_server(self.server)

    def _http(self, r: gen.Request):
        if r.kind == "search":
            method, path = "POST", "/api/v1/documents/search"
            body = json.dumps({"query": r.query, "k": r.k}).encode()
        elif r.kind == "upload":
            method, path = "POST", f"/api/v1/documents?filename={r.filename}"
            body = r.payload
        else:
            suffix = {"get_document": "", "status": "/status",
                      "get_chunks": "/chunks"}[r.kind]
            method, body = "GET", None
            path = f"/api/v1/documents/{r.doc_id}{suffix}"
        conn = http.client.HTTPConnection(self.host, self.port,
                                          timeout=self.TIMEOUT_S)
        try:
            conn.request(method, path, body=body)
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read() or b"null")
        finally:
            conn.close()

    def _send(self, r: gen.Request, due: float) -> dict:
        """One request; latency runs from its due time."""
        t_send = time.perf_counter()
        rec = {"late_ms": 1000 * (t_send - due)}
        try:
            rec["code"], rec["body"] = self._http(r)
            t_done = time.perf_counter()
            rec["latency_ms"] = 1000 * (t_done - due)
            rec["service_ms"] = 1000 * (t_done - t_send)
        except (OSError, http.client.HTTPException, ValueError) as exc:
            # refused or dropped connections, timeouts, bad bodies
            rec["error"] = f"{type(exc).__name__}: {exc}"
        return rec

    def send_in_order(self, reqs: list[gen.Request]) -> list[dict]:
        """Send `reqs` open-loop on their due times from one sender: a
        request due while another is in flight waits for it, and that
        wait counts in its latency. So a read-your-writes read, due at
        least gen.RYW_GAP_S after its upload, is sent after the upload
        has answered."""
        start = time.perf_counter() + 0.1
        out = []
        for r in reqs:
            due = start + r.due
            if due > time.perf_counter():
                time.sleep(due - time.perf_counter())
            out.append(self._send(r, due))
        self.attempted += len(out)
        return out

    def warm_up(self) -> None:
        with ThreadPoolExecutor(max_workers=self.WARM_SENDERS) as pool:
            self.warm_results = list(pool.map(
                lambda r: self._send(r, time.perf_counter()),
                self.warm_requests))
        self.attempted += len(self.warm_results)
        self.warm_results += self.send_in_order(self.warm_searches)
        self.warm_requests += self.warm_searches

    def measure(self) -> None:
        self.results = self.send_in_order(self.requests)

        def lat(*kinds) -> list[float]:
            return [rec["latency_ms"] for r, rec in
                    zip(self.requests, self.results)
                    if r.kind in kinds and "latency_ms" in rec]

        search = lat("search")
        self.times = [ms / 1000 for ms in search]
        self.detail = {
            "search_ms_p50": median(search),
            "search_ms_p90": pct(search, 90),
            "lookup_ms_p50": median(lat("get_document", "status")),
            "chunks_ms_p50": median(lat("get_chunks")),
            "upload_ms_p50": median(lat("upload")),
        }

    def check(self, expected: dict) -> None:
        self.knn = expected["knn"]
        for reqs, results in ((self.warm_requests, self.warm_results),
                              (self.requests, self.results)):
            for r, rec in zip(reqs, results):
                try:
                    why = self._why_wrong(r, rec, reqs)
                except (KeyError, TypeError, AttributeError) as exc:
                    why = f"malformed answer ({type(exc).__name__}: {exc})"
                if why:
                    self._fail(f"{r.kind} due {r.due:.2f}s: {why}")

    def _why_wrong(self, r, rec, reqs) -> str | None:
        if "error" in rec:
            return rec["error"]
        code, body = rec["code"], rec["body"]
        if code != 200:
            return f"HTTP {code} {body}"
        if r.kind == "search":
            want = self.knn[r.query][: r.k]
            got = [(h["vec_id"], h["score"]) for h in body["results"]]
            return None if got == want else f"top-{r.k} differs from the oracle"
        if r.kind == "upload":
            ok = (body.get("doc_id") == r.doc_id
                  and body.get("status") == "completed"
                  and body.get("n_chunks", 0) >= 1)
            return None if ok else f"upload answer {body}"
        if r.upload_ref is not None:
            up = reqs[r.upload_ref]
            text = up.payload.decode()
            want_doc = {"doc_id": up.doc_id, "filename": up.filename,
                        "lang": None, "source": None, "n_chars": None,
                        "status": "completed", "origin": "upload"}
        else:
            text, lang, source, n_chars = self.lake_docs[r.doc_id]
            want_doc = {"doc_id": r.doc_id, "filename": None, "lang": lang,
                        "source": source, "n_chars": n_chars,
                        "status": "completed", "origin": "corpus"}
        if r.kind == "get_document":
            return None if body == want_doc else f"document {body}"
        if r.kind == "status":
            want = {"doc_id": r.doc_id, "status": "completed"}
            return None if body == want else f"status {body}"
        chunks = sorted(body["chunks"], key=lambda c: c["pos"])
        ok = (body["doc_id"] == r.doc_id
              and " ".join(c["content"] for c in chunks).split()
              == text.split()
              and [c["chunk_number"] for c in chunks]
              == list(range(1, len(chunks) + 1)))
        return None if ok else "chunks do not rebuild the document"

    def traced(self, tr: Tracer) -> dict:
        """The timed schedule replayed in order, for at most `seconds`.
        Each request runs three ways back to back: the EngineAPI method
        called directly, the same request over HTTP, and the direct call
        traced, in an order that rotates from request to request so
        that warming up during the replay favours none of them. Then
        the member operators it is built from run, traced.
        `api.http_overhead_ms_p50` is the median of HTTP minus direct
        time over these pairs, `trace.overhead_s` the traced minus the
        direct total."""
        from data_pipeline2_spark.api import EngineAPI
        from data_pipeline2_spark.operators import chunking, relational
        from data_pipeline2_spark.operators.embedding import hash_embed_one
        from data_pipeline2_spark.operators.similarity import knn_cosine

        # a second instance on the same lake for the direct calls
        api = EngineAPI(self.spark, self.lake)
        api.documents.count()
        api.embeddings.count()
        call = {
            "search": lambda r: api.search(r.query, r.k),
            "get_document": lambda r: api.get_document(r.doc_id),
            "status": lambda r: api.get_status(r.doc_id),
            "get_chunks": lambda r: api.get_chunks(r.doc_id),
            "upload": lambda r: api.upload(r.payload, r.filename),
        }
        took = {"plain": [], "http": [], "traced": []}
        ops: dict[str, list[float]] = {"embed": [], "knn": [], "lookup": [],
                                       "exact": []}

        def ms(fn) -> float:
            t0 = time.perf_counter()
            fn()
            return 1000 * (time.perf_counter() - t0)

        def http(r) -> None:
            rec = self._send(r, time.perf_counter())
            self.attempted += 1
            if rec.get("code") != 200:
                self._fail(f"replayed {r.kind}: "
                           f"{rec.get('error') or rec['code']}")

        def traced_call(r) -> None:
            with tr.span(f"api.{r.kind}"):
                call[r.kind](r)

        ways = {"plain": lambda r: call[r.kind](r), "http": http,
                "traced": traced_call}
        rotation = list(ways)
        t_end = time.perf_counter() + self.seconds
        for i, r in enumerate(self.requests):
            if time.perf_counter() > t_end:
                break
            for way in rotation[i % 3:] + rotation[: i % 3]:
                took[way].append(ms(lambda: ways[way](r)))
            if r.kind == "search":
                t0 = time.perf_counter()
                qv = hash_embed_one(r.query)
                ops["embed"].append(1000 * (time.perf_counter() - t0))
                with tr.span("similarity.knn"):
                    ops["knn"].append(ms(lambda: knn_cosine(
                        api.embeddings, qv, k=r.k).collect()))
            elif r.kind != "upload" and r.upload_ref is None:
                with tr.span("relational.point_lookup"):
                    ops["lookup"].append(ms(lambda: relational.point_lookup(
                        api.documents, "doc_id", r.doc_id).collect()))
            if r.kind == "upload" or (r.kind == "get_chunks"
                                      and r.upload_ref is None):
                text = (r.payload.decode() if r.kind == "upload"
                        else self.lake_docs[r.doc_id][0])
                doc = self.spark.createDataFrame(
                    [(r.doc_id, text)], "doc_id long, text string")
                with tr.span("chunking.exact"):
                    ops["exact"].append(ms(lambda: chunking.chunk_metadata_enrich(
                        chunking.chunk_sentence_exact(doc, 500),
                        "sentence").collect()))
        late = [rec["late_ms"] for rec in self.results]
        return {
            "trace.overhead_s":
                (sum(took["traced"]) - sum(took["plain"])) / 1000,
            "embedding.query_embed_ms": median(ops["embed"]),
            "similarity.knn_ms_p50": median(ops["knn"]),
            "relational.point_lookup_ms_p50": median(ops["lookup"]),
            "chunking.exact_ms_p50": median(ops["exact"]),
            "api.http_overhead_ms_p50": median(
                [h - p for h, p in zip(took["http"], took["plain"])]),
            # the measured loop has one sender: at most one request is
            # ever in flight
            "serve.inflight_max": 1,
            "serve.late_ms_p90": pct(late, 90),
        }


WORKLOADS = {w.name: w for w in (Curate, Ingest, Serve)}
