"""applyInPandasWithState operators: streaming dedup + running totals,
verified across multiple micro-batches (maxFilesPerTrigger=1 forces
batch boundaries so state must actually carry over)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_pipeline2_spark.streaming import stateful


@pytest.fixture()
def multi_batch_src(spark):
    d = tempfile.mkdtemp(prefix="dp2s_state_")
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    batches = [
        [(1, "2024-01-01 00:00:00", 1, "click", 1.0, "{}"),
         (2, "2024-01-01 00:01:00", 2, "view", 2.0, "{}")],
        [(3, "2024-01-01 00:02:00", 1, "click", 3.0, "{}"),
         (4, "2024-01-01 00:03:00", 1, "purchase", 4.0, "{}")],
        [(5, "2024-01-01 00:04:00", 2, "click", 5.0, "{}")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(os.path.join(d, f"b{i}"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stream(spark, src):
    from data_pipeline2_spark.schemas import EVENTS

    return (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )


def test_streaming_dedup_first_seen(spark, multi_batch_src):
    out = stateful.streaming_dedup_first_seen(_stream(spark, multi_batch_src))
    q = (
        out.writeStream.format("memory")
        .queryName("sdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sdedup").collect()
    got = {r.key for r in rows}
    assert got == {"click", "view", "purchase"}
    assert len(rows) == 3  # exactly one emission per key across batches


def test_streaming_running_totals(spark, multi_batch_src):
    out = stateful.streaming_running_totals(_stream(spark, multi_batch_src))
    q = (
        out.writeStream.format("memory")
        .queryName("stotals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from stotals").collect()
    # the FINAL emission per user must reflect the full accumulated state
    final = {}
    for r in rows:
        final[r.user_id] = max(
            final.get(r.user_id, (0, 0.0)), (r.events, r.total_value)
        )
    assert final[1] == (3, 8.0)
    assert final[2] == (2, 7.0)


def test_streamed_index_matches_batch_bm25(spark, tmp_path):
    """Documents streamed through the index-maintenance sink must answer
    BM25 queries identically to a batch-built index — including after a
    second run over the same source (exactly-once via key collapse)."""
    import os

    from data_pipeline2_spark.operators.textanalysis import (
        bm25_search,
        bm25_search_indexed,
    )
    from data_pipeline2_spark.sources.parquet import load_table
    from data_pipeline2_spark.streaming.stateful import (
        index_documents_stream,
        load_text_index,
    )

    src = os.path.join(str(tmp_path), "src")
    idx_dir = os.path.join(str(tmp_path), "index")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    # two source files -> at least one multi-file availableNow pass
    docs.repartition(2).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = index_documents_stream(stream, idx_dir, ckpt)
    q.awaitTermination(120)

    idx = load_text_index(spark, idx_dir)
    probed = bm25_search_indexed(idx, ["dup", "vector", "spark"], k=20).collect()
    scan = bm25_search(docs, ["dup", "vector", "spark"], k=20).collect()
    assert [tuple(r) for r in probed] == [tuple(r) for r in scan]

    # restart over the same checkpoint: no new data, index unchanged
    q2 = index_documents_stream(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        idx_dir,
        ckpt,
    )
    q2.awaitTermination(120)
    idx2 = load_text_index(spark, idx_dir)
    again = bm25_search_indexed(idx2, ["dup", "vector", "spark"], k=20).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in scan]


def test_streaming_sessionize_matches_batch_boundaries(spark):
    """Closed sessions from the stateful stream must carry the same
    boundaries the batch gap rule derives; the still-open tail session
    is the only difference (append mode emits on close)."""
    import pandas as pd

    d = tempfile.mkdtemp(prefix="dp2s_sess_")
    try:
        schema = (
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string"
        )
        # user 1: two sessions separated by a 40-min gap, split across
        # micro-batches so the boundary crosses state; user 2: one session
        batches = [
            [(1, "2024-01-01 00:00:00", 1, "c", 1.0, "{}"),
             (2, "2024-01-01 00:10:00", 1, "c", 1.0, "{}")],
            [(3, "2024-01-01 00:50:00", 1, "c", 1.0, "{}"),
             (4, "2024-01-01 00:55:00", 1, "c", 1.0, "{}"),
             (5, "2024-01-01 00:00:00", 2, "c", 1.0, "{}")],
        ]
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.col("ts").cast("timestamp")
            ).coalesce(1).write.parquet(os.path.join(d, f"b{i}"))

        out = stateful.streaming_sessionize(
            _stream(spark, d), timeout=False
        )
        q = (
            out.writeStream.format("memory").queryName("ssess")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from ssess").collect()
        # only user 1's FIRST session closed (proven by the 40-min gap);
        # the open tails are withheld by append semantics
        assert len(rows) == 1
        r = rows[0]
        assert r.user_id == 1 and r.n_events == 2
        assert r.start_ts == pd.Timestamp("2024-01-01 00:00:00")
        assert r.end_ts == pd.Timestamp("2024-01-01 00:10:00")

        # batch parity: the closed session matches events.sessionize
        from data_pipeline2_spark.streaming.events import sessionize
        evt = spark.read.parquet(d + "/*")
        batch = sessionize(evt, 1800).toPandas()
        s1 = batch[(batch.user_id == 1) & (batch.session_seq == 1)]
        assert len(s1) == 2 and set(s1.event_id) == {1, 2}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_sessionize_late_event_folds_monotone(spark):
    """A cross-batch late event must fold into the open session without
    moving end_ts backwards: the later closing event still sees the
    original gap and the closed session keeps end_ts >= start_ts."""
    import pandas as pd

    d = tempfile.mkdtemp(prefix="dp2s_sess_late_")
    try:
        schema = (
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string"
        )
        batches = [
            [(1, "2024-01-01 00:30:00", 1, "c", 1.0, "{}")],
            [(2, "2024-01-01 00:20:00", 1, "c", 1.0, "{}"),   # late
             (3, "2024-01-01 01:30:00", 1, "c", 1.0, "{}")],  # closes it
        ]
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).withColumn(
                "ts", F.col("ts").cast("timestamp")
            ).coalesce(1).write.parquet(os.path.join(d, f"b{i}"))
        out = stateful.streaming_sessionize(_stream(spark, d), timeout=False)
        q = (
            out.writeStream.format("memory").queryName("ssess_late")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from ssess_late").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.n_events == 2
        assert r.start_ts == pd.Timestamp("2024-01-01 00:20:00")  # extended
        assert r.end_ts == pd.Timestamp("2024-01-01 00:30:00")    # monotone
        assert r.end_ts >= r.start_ts
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def flood_src(spark):
    """One user flooding a single minute ACROSS two micro-batches (the
    cap must carry over), plus a quiet user and a later window."""
    d = tempfile.mkdtemp(prefix="dp2s_rate_")
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    batches = [
        [(1, "2024-01-01 00:00:05", 1, "c", 1.0, "{}"),
         (2, "2024-01-01 00:00:10", 1, "c", 1.0, "{}"),
         (9, "2024-01-01 00:00:15", 2, "c", 1.0, "{}")],
        [(3, "2024-01-01 00:00:20", 1, "c", 1.0, "{}"),
         (4, "2024-01-01 00:00:25", 1, "c", 1.0, "{}")],
        [(5, "2024-01-01 00:01:30", 1, "c", 1.0, "{}")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(os.path.join(d, f"b{i}"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_rate_limit_cap_carries_across_batches(spark, flood_src):
    out = stateful.streaming_rate_limit(_stream(spark, flood_src), cap=3)
    q = (
        out.writeStream.format("memory")
        .queryName("srate")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from srate").collect()
    adm = {r.event_id: r.admitted for r in rows}
    # user 1, minute 0: events 1,2 (batch 0) + 3,4 (batch 1) against
    # cap 3 -> 4 must be rejected, which only happens if the counter
    # state survived the micro-batch boundary
    assert adm == {1: True, 2: True, 3: True, 4: False,
                   5: True, 9: True}


def test_streaming_rate_limit_matches_batch_replay(spark, flood_src):
    """Arrival order == event-time order here, so the streaming flags
    must equal the batch operator's event-time replay exactly."""
    from data_pipeline2_spark.operators.lifecycle import rate_limit_flags
    from data_pipeline2_spark.schemas import EVENTS

    out = stateful.streaming_rate_limit(_stream(spark, flood_src), cap=3)
    q = (
        out.writeStream.format("memory")
        .queryName("srate_parity")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_adm = {
        r.event_id: r.admitted
        for r in spark.sql("select * from srate_parity").collect()
    }
    static = spark.read.schema(EVENTS).parquet(flood_src + "/*")
    batch_adm = {
        r.event_id: r.admitted
        for r in rate_limit_flags(static, cap=3).collect()
    }
    assert stream_adm == batch_adm
