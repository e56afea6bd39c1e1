"""End-to-end pipeline parity with the reference's E2E scripts
(test_pipeline.py / test_full_pipeline.py): upload → process (chunk) →
embed (cached) → store → semantic search → verify stored vectors —
all as one batch flow over engine operators, plus the incremental
second run (only new documents do work).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_pipeline2_spark.operators import chunking, embedding, similarity
from data_pipeline2_spark.operators.writers import write_embeddings_idempotent
from data_pipeline2_spark.sources.binary import ingest_binary_dir

DOC_BODIES = {
    "intro.md": b"# Intro\n\nSpark engines process data. They scale horizontally.",
    "guide.txt": b"A guide to chunking. Sentences pack greedily. Overlap helps recall.",
    "raw.bin": b"\x00\x01binary-ish payload without sentences",
}


@pytest.fixture()
def pipeline_dirs():
    up = tempfile.mkdtemp(prefix="dp2s_e2e_up_")
    store = tempfile.mkdtemp(prefix="dp2s_e2e_store_")
    for name, body in DOC_BODIES.items():
        with open(os.path.join(up, name), "wb") as f:
            f.write(body)
    yield up, store
    shutil.rmtree(up, ignore_errors=True)
    shutil.rmtree(store, ignore_errors=True)


def _process(spark, upload_dir):
    """upload → decode → chunk → enrich: the queue consumer's work
    (document_processor.py:96-132) as one declarative plan."""
    docs = ingest_binary_dir(spark, upload_dir).select(
        "doc_id",
        "filename",
        "content_type",
        F.decode("content", "utf-8").alias("text"),
    )
    chunks = chunking.chunk_metadata_enrich(
        chunking.chunk_sentence_exact(docs, 48, id_col="doc_id", text_col="text"),
        "sentence",
    )
    return docs, chunks


def test_full_pipeline_roundtrip(spark, pipeline_dirs):
    upload_dir, store = pipeline_dirs
    docs, chunks = _process(spark, upload_dir)

    # invariant set from the reference's E2E: every doc chunked,
    # metadata complete, statuses terminal
    pdf = chunks.toPandas()
    assert set(pdf.doc_id) == {r.doc_id for r in docs.select("doc_id").collect()}
    assert (pdf.chunk_number <= pdf.total_chunks).all()
    assert (pdf.strategy == "sentence").all()

    # embed + store (idempotent composite PK)
    emb = embedding.embed_chunks(chunks, text_col="content", id_col="chunk_id")
    stored = write_embeddings_idempotent(
        emb, os.path.join(store, "embeddings")
    )
    assert stored.count() == emb.count()
    assert stored.select(F.size("embedding")).distinct().collect()[0][0] == 64

    # semantic search: embed a query string, kNN over stored vectors,
    # verify the hit's chunk really contains the query topic
    qvec = embedding.hash_embed_one(
        stored.join(chunks, "chunk_id")
        .filter(F.col("content").contains("chunking"))
        .select("content")
        .collect()[0][0]
    )
    hits = similarity.knn_cosine(
        stored, qvec, k=3, id_col="chunk_id", vec_col="embedding"
    ).toPandas()
    top = chunks.filter(F.col("chunk_id") == hits.iloc[0]["chunk_id"]).collect()[0]
    assert "chunking" in top["content"]
    assert hits.iloc[0]["score"] == pytest.approx(1.0, abs=1e-5)


def test_incremental_second_run(spark, pipeline_dirs):
    upload_dir, store = pipeline_dirs
    _, chunks = _process(spark, upload_dir)
    first = embedding.embed_chunks(chunks, "content", "chunk_id")
    cache_path = os.path.join(store, "emb_cache")
    write_embeddings_idempotent(first, cache_path)

    # second run: one new upload; only ITS chunks must be computed
    with open(os.path.join(upload_dir, "new.md"), "wb") as f:
        f.write(b"Fresh document. Never embedded before.")
    _, chunks2 = _process(spark, upload_dir)
    cached = spark.read.parquet(cache_path)
    out = embedding.embed_incremental(chunks2, cached, "content", "chunk_id")
    assert out.count() == chunks2.count()
    pending = chunks2.join(
        cached.select("chunk_id"), "chunk_id", "left_anti"
    )
    new_docs = {r.doc_id for r in pending.select("doc_id").distinct().collect()}
    assert len(new_docs) == 1  # only the fresh upload missed the cache


def test_sql_interface_matches_dataframe_api(spark):
    """The engine surface is reachable as plain spark.sql over the
    registered views — a reference user's SQL keeps working. Verified
    by matching a multi-join aggregate against the DataFrame-API query."""
    from data_pipeline2_spark import registry
    from data_pipeline2_spark.sources.parquet import register_temp_views

    register_temp_views(spark, "/root/testdata/sf0.001")
    sql_rows = spark.sql(
        """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS revenue
        FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = (SELECT min(r_name) FROM region)
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
        """
    ).collect()
    api_rows = registry.queries()["q5_revenue_by_nation"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in api_rows]


def test_phrase_match_word_boundaries(spark):
    from data_pipeline2_spark.operators.relational import phrase_match

    docs = spark.createDataFrame(
        [
            (1, "the spark join runs"),
            (2, "sparkly join here"),          # substring, not a token
            (3, "spark  JOIN   with spaces"),  # whitespace runs + case
            (4, "join spark reversed"),
            (5, "a\u00a0b"),                  # \xa0 is a word char, not a space
        ],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in phrase_match(docs, "text", "Spark Join").collect())
    assert got == [1, 3]
    got = [r.doc_id for r in phrase_match(docs, "text", "a\u00a0b").collect()]
    assert got == [5]


def test_phrase_indexed_counts_overlapping_starts(spark):
    from data_pipeline2_spark.operators.textanalysis import (
        build_positional_index,
        phrase_match_indexed,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),   # 'a b' starts at 0 and 2
            (2, "b a"),          # reversed, no match
            (3, "a a a"),        # repeated-term phrase 'a a': starts 0,1
            (4, "a\u00a0b"),     # one token: \xa0 is not ASCII whitespace
        ],
        "doc_id long, text string",
    )
    idx = build_positional_index(docs)
    ab = {r.doc_id: r.n_matches for r in phrase_match_indexed(idx, "a b").collect()}
    assert ab == {1: 2}
    aa = {r.doc_id: r.n_matches for r in phrase_match_indexed(idx, "a a").collect()}
    assert aa == {3: 2}
    nb = {r.doc_id: r.n_matches for r in phrase_match_indexed(idx, "a\u00a0b").collect()}
    assert nb == {4: 1}


def test_near_match_slop_and_order(spark):
    from data_pipeline2_spark.operators.textanalysis import (
        build_positional_index,
        near_match,
    )

    docs = spark.createDataFrame(
        [
            (1, "dup x x spark"),        # distance 3 -> within slop
            (2, "dup x x x spark"),      # distance 4 -> outside slop 3
            (3, "spark then dup"),       # reverse order, distance 2
            (4, "spark only here"),
        ],
        "doc_id long, text string",
    )
    idx = build_positional_index(docs)
    got = {r.doc_id: r.n_pairs for r in near_match(idx, "dup", "spark", slop=3).collect()}
    assert got == {1: 1, 3: 1}


@pytest.mark.driver
@pytest.mark.parametrize(
    "phrase", ["", "   ", "\t"], ids=["empty", "blank", "tab"]
)
def test_phrase_without_tokens_is_a_named_error(spark, phrase):
    """A phrase with no tokens raises the same ValueError on the scan
    side and the index side — it must not match the docs whose token
    stream holds a double space, nor fail on an empty leg list."""
    from data_pipeline2_spark.operators.relational import phrase_match
    from data_pipeline2_spark.operators.textanalysis import (
        build_positional_index,
        phrase_match_indexed,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "\t"), (4, "\ta b\t"), (5, None)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="phrase has no tokens"):
        phrase_match(docs, "text", phrase)
    with pytest.raises(ValueError, match="phrase has no tokens"):
        phrase_match_indexed(build_positional_index(docs), phrase)


def test_real_binary_format_conversion(spark):
    """Real container bytes (DOCX/XLSX/PPTX zip+XML, FlateDecode PDF,
    HTML) convert to the exact markdown the fixtures imply — the
    docling seam backed by actual parsers (docling_service.py:188-206)."""
    from data_pipeline2_spark.operators import convert as conv

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    out = conv.convert_documents(conv.fixture_binary_documents(docs)).toPandas()
    assert len(out) == 10
    by_id = dict(zip(out.doc_id, out.text))
    assert by_id[0].startswith("# Document 0\n\nBody text for document 0.")
    assert "| id | 0 |" in by_id[0]
    assert by_id[1] == "## Data\n\n| metric | value |\n| --- | --- |\n| doc | 1 |"
    assert by_id[2] == "## Slide 1\n\nDeck 2\n\n## Slide 2\n\nSummary 2"
    assert by_id[3] == "PDF body 3"
    assert by_id[4].startswith("# Page 4\n\nParagraph for page 4.")
    # converter column records which real parser ran (mime-keyed)
    assert set(out.converter) == set(out.content_type)


def test_convert_encrypted_pdf_still_raises(spark):
    """The genuinely-external paths (encrypted PDF, images) keep the
    NotImplementedError seam."""
    import pytest as _pytest

    from data_pipeline2_spark.operators import convert as conv

    enc = b"%PDF-1.4\n/Encrypt 1 0 R\n%%EOF"
    df = spark.createDataFrame(
        [(1, "application/pdf", bytearray(enc))],
        "doc_id long, content_type string, content binary",
    )
    with _pytest.raises(Exception, match="NotImplementedError|full PDF stack"):
        conv.convert_documents(df).collect()


def test_lenient_conversion_stubs_corrupt_containers_with_error_class(spark):
    """Corrupt container bytes must become placeholder rows recording
    the error class (groupable skip-and-continue), never a batch
    failure — and valid rows in the same batch still convert."""
    from data_pipeline2_spark.functions.docformats import make_docx
    from data_pipeline2_spark.operators import convert as conv

    good = make_docx(1)
    rows = [
        (1, conv.MIME_DOCX, bytearray(good)),
        (2, conv.MIME_DOCX, bytearray(good[: len(good) // 2])),  # truncated zip
        (3, "application/pdf", bytearray(b"%PDF-1.4 garbage no streams")),
        (4, conv.MIME_XLSX, bytearray(b"PK\x03\x04 not really a zip")),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, content_type string, content binary"
    )
    out = conv.convert_documents(df, lenient=True).toPandas()
    by_id = dict(zip(out.doc_id, out.text))
    conv_by_id = dict(zip(out.doc_id, out.converter))
    assert by_id[1].startswith("# Document 1")
    for bad in (2, 3, 4):
        assert conv_by_id[bad] == "stub"
        assert "error:" in by_id[bad], by_id[bad]
