"""Seeded input generator shared by the curate, ingest and serve workloads.

One integer seed fixes every input the engine sees:

- the document lake: a 5,000-doc corpus in the shape of the sf0.1
  `documents` table (30-word vocabulary, 10-100 words per doc, the same
  lang and source mix), plus a few percent of docs re-emitted under
  fresh ids as exact duplicates and as near-duplicates with a few words
  swapped, all in a seeded row order split across several parquet files;
- the `embeddings` table the API serves kNN from (2,000 unit vectors of
  dimension 64 around ten label centroids, as in sf0.1);
- the ingest query text and the serve request schedule (jittered
  constant-rate arrival times, request mix, Zipf-popular query texts,
  upload payloads).

The same seed writes byte-identical parquet files and an identical
schedule (`perfbench/test_gen.py` pins both).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the sf0.1 documents vocabulary
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20

N_DOCS = 5000
DUP_FRAC = 0.03  # exact duplicates under fresh ids
NEAR_FRAC = 0.03  # near duplicates: a few words swapped
NEAR_SWAPS = 3
N_FILES = 4

N_VECS = 2000
DIM = 64
N_LABELS = 10

#: serve request mix
MIX = [
    ("search", 0.60),
    ("get_document", 0.10),
    ("status", 0.10),
    ("get_chunks", 0.10),
    ("upload", 0.10),
]
N_QUERY_TEXTS = 40
ZIPF_S = 1.1
SEARCH_K = [5, 10, 20]
READ_KINDS = ("get_document", "status", "get_chunks")
#: kinds that hold the engine's cores for about a second each
HEAVY_KINDS = ("get_chunks", "upload")
#: a read-your-writes read is due at least this long after its upload
RYW_GAP_S = 2.0


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _doc_text(rng: np.random.Generator) -> str:
    return " ".join(_words(rng, int(rng.integers(10, 101))))


def lake_table(seed: int, n_docs: int = N_DOCS) -> pa.Table:
    """The whole lake as one arrow table, rows in their seeded order."""
    rng = np.random.default_rng([seed, 1])
    texts = [_doc_text(rng) for _ in range(n_docs)]
    langs = [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)]
    sources = [f"src{i % N_SOURCES}" for i in range(n_docs)]
    ids = list(range(n_docs))
    # exact duplicates and near duplicates, each under a fresh id
    n_dup, n_near = int(n_docs * DUP_FRAC), int(n_docs * NEAR_FRAC)
    picks = rng.choice(n_docs, n_dup + n_near, replace=False)
    next_id = n_docs
    for j, src in enumerate(picks):
        text = texts[src]
        if j >= n_dup:
            words = text.split()
            for pos in rng.choice(len(words), min(NEAR_SWAPS, len(words)),
                                  replace=False):
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            text = " ".join(words)
        ids.append(next_id)
        texts.append(text)
        langs.append(langs[src])
        sources.append(sources[src])
        next_id += 1
    order = rng.permutation(len(ids))
    return pa.table(
        {
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array([langs[i] for i in order], pa.string()),
            "source": pa.array([sources[i] for i in order], pa.string()),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int = N_VECS) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    cents = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    x = cents[labels] + rng.normal(0.0, 1.5, (n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _write_split(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def write_lake(seed: int, root: str, n_docs: int = N_DOCS,
               with_embeddings: bool = False) -> pa.Table:
    """Write `root/documents.parquet/` (and `root/embeddings.parquet/`)
    as multi-file directories `load_table` reads; returns the docs."""
    docs = lake_table(seed, n_docs)
    _write_split(docs, os.path.join(root, "documents.parquet"), N_FILES)
    if with_embeddings:
        _write_split(embeddings_table(seed),
                     os.path.join(root, "embeddings.parquet"), 1)
    return docs


def query_texts(seed: int, n: int = N_QUERY_TEXTS) -> list[str]:
    rng = np.random.default_rng([seed, 3])
    return [" ".join(_words(rng, int(rng.integers(2, 6)))) + "."
            for _ in range(n)]


def ingest_query(seed: int) -> str:
    return query_texts(seed, 1)[0]


@dataclass
class Request:
    due: float  # seconds after the schedule starts
    kind: str
    query: str | None = None
    k: int | None = None
    doc_id: int | None = None
    upload_ref: int | None = None  # index of the upload it reads back
    filename: str | None = None
    payload: bytes | None = None


def upload_doc_id(filename: str, payload: bytes) -> int:
    """The id `EngineAPI.upload` assigns (sha256 of name + bytes)."""
    return int.from_bytes(
        hashlib.sha256(filename.encode() + payload).digest()[:6], "big"
    )


def _mix_counts(n: int) -> dict[str, int]:
    """Exactly `n` request kinds in MIX proportions (largest remainder)."""
    quota = [(p * n, k) for k, p in MIX]
    counts = {k: int(q) for q, k in quota}
    by_rest = sorted(quota, key=lambda qk: qk[0] - int(qk[0]), reverse=True)
    for _, k in by_rest[: n - sum(counts.values())]:
        counts[k] += 1
    return counts


def schedule(seed: int, seconds: float, rate: float,
             lake_ids: list[int]) -> list[Request]:
    """Open-loop request schedule over `seconds`: n = round(rate *
    seconds) requests, one due at a seeded random point of each of n
    equal slots (constant rate with jitter), kinds in exact MIX
    proportions. The heavy kinds (HEAVY_KINDS) sit at evenly spaced
    slots in a seeded order, the others fill the rest in a seeded order.
    Searches draw Zipf-popular texts; reads either hit a lake id or read
    back an earlier upload.

    Why not Poisson arrivals with a seeded kind order: a heavy request
    holds the engine's cores for about a second, so how many searches
    queue behind one depends on where the seed puts it. At 15 s windows
    that moved the search p50 by 40-50% from seed to seed, which no
    regression bound can absorb; spacing the heavy requests evenly keeps
    the interference, and its share, the same for every seed."""
    rng = np.random.default_rng([seed, 4])
    texts = query_texts(seed)
    pop = 1.0 / np.arange(1, len(texts) + 1) ** ZIPF_S
    pop /= pop.sum()
    n = max(1, round(rate * seconds))
    dues = ((np.arange(n) + rng.uniform(0.0, 1.0, n)) * seconds / n).tolist()
    counts = _mix_counts(n)
    heavy = [k for k in HEAVY_KINDS for _ in range(counts[k])]
    light = [k for k, _ in MIX if k not in HEAVY_KINDS
             for _ in range(counts[k])]
    slots = {int((j + 0.5) * n / len(heavy)) for j in range(len(heavy))}
    heavy_order = iter([heavy[i] for i in rng.permutation(len(heavy))])
    light_order = iter([light[i] for i in rng.permutation(len(light))])
    kinds = [next(heavy_order) if i in slots else next(light_order)
             for i in range(n)]
    out: list[Request] = []
    for t, kind in zip(dues, kinds):
        r = Request(due=t, kind=kind)
        if kind == "search":
            r.query = texts[int(rng.choice(len(texts), p=pop))]
            r.k = SEARCH_K[int(rng.integers(0, len(SEARCH_K)))]
        elif kind == "upload":
            r.filename = f"up-{seed}-{len(out)}.txt"
            r.payload = _doc_text(rng).encode()
            r.doc_id = upload_doc_id(r.filename, r.payload)
        else:
            r.doc_id = lake_ids[int(rng.integers(0, len(lake_ids)))]
        out.append(r)
    # read-your-writes: each upload is read back by one later read (due
    # RYW_GAP_S or more after it), when the window still has one
    for u, up in enumerate(out):
        if up.kind != "upload":
            continue
        later = [i for i, r in enumerate(out)
                 if r.kind in READ_KINDS and r.upload_ref is None
                 and r.due >= up.due + RYW_GAP_S]
        if later:
            r = out[later[int(rng.integers(0, len(later)))]]
            r.upload_ref, r.doc_id = u, up.doc_id
    return out
