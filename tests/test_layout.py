"""Physical-layout scale patterns: Z-order clustering actually tightens
per-file column ranges (row-group pruning), and date-partitioned writes
actually prune partitions in the plan."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_pipeline2_spark.plans.zorder import zorder_write
from data_pipeline2_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="dp2s_layout_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _file_ranges(path, column):
    """(min, max) of `column` per parquet file under path."""
    out = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(column)
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        out.append((lo, hi))
    return out


def test_zorder_tightens_both_dimensions(spark, outdir):
    orders = load_table(spark, SF, "orders")
    zpath = os.path.join(outdir, "z")
    out = zorder_write(orders, ["o_custkey", "o_totalprice"], zpath, n_files=8)
    assert out.count() == orders.count()

    domain_ck = orders.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("d")
    ).collect()[0]["d"]
    domain_tp = orders.agg(
        (F.max("o_totalprice") - F.min("o_totalprice")).alias("d")
    ).collect()[0]["d"]

    # every file's span in EACH dimension should be well under the full
    # domain (the Z-curve trades a bit of each) — unsorted writes give
    # spans ≈ the whole domain in both
    ck_spans = [(hi - lo) / domain_ck for lo, hi in _file_ranges(zpath, "o_custkey")]
    tp_spans = [(hi - lo) / domain_tp for lo, hi in _file_ranges(zpath, "o_totalprice")]
    assert sum(ck_spans) / len(ck_spans) < 0.7
    assert sum(tp_spans) / len(tp_spans) < 0.7


def test_date_partitioned_write_prunes(spark, outdir):
    events = load_table(spark, SF, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    path = os.path.join(outdir, "events_by_day")
    events.write.mode("overwrite").partitionBy("day").parquet(path)

    back = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-05" in plan
    n_days = events.select("day").distinct().count()
    assert back.count() == events.filter(F.col("day") == "2024-01-05").count()
    assert n_days > 1


def test_schema_evolution_merge(spark, outdir):
    # v1 writer: 3 columns; v2 writer adds a column — readers must see
    # the union schema with nulls for old files (lake schema evolution)
    p = os.path.join(outdir, "evolving")
    spark.createDataFrame([(1, "a", 1.0)], "id long, name string, v double") \
        .write.parquet(os.path.join(p, "day=1"))
    spark.createDataFrame([(2, "b", 2.0, "extra")],
                          "id long, name string, v double, note string") \
        .write.parquet(os.path.join(p, "day=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "name", "v", "note", "day"}
    rows = {r.id: r.note for r in merged.collect()}
    assert rows[1] is None and rows[2] == "extra"


def test_table_cache_opt_in_and_key_partitioned(spark, monkeypatch):
    from data_pipeline2_spark.sources import parquet as pq

    # default off: two loads build independent scan plans, no cache entry
    monkeypatch.delenv("SPARK_GRAFT_TABLE_CACHE", raising=False)
    pq._TABLE_CACHE.clear()
    pq.load_table(spark, "/root/testdata/sf0.001", "documents")
    assert not pq._TABLE_CACHE

    # opted in: same object returned, persisted, parallel, values intact
    monkeypatch.setenv("SPARK_GRAFT_TABLE_CACHE", "1")
    a = pq.load_table(spark, "/root/testdata/sf0.001", "documents")
    b = pq.load_table(spark, "/root/testdata/sf0.001", "documents")
    assert a is b
    assert a.storageLevel.useMemory
    assert a.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    plain = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert a.count() == plain.count()
    # events table goes through the nanos->timestamp conversion too
    ev = pq.load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    pq._TABLE_CACHE.clear()
    a.unpersist()
    ev.unpersist()


def test_ivf_cell_partitioned_layout_prunes(spark, outdir):
    """The IVF lake layout from SCALE.md made concrete: embeddings
    written partitionBy(cell) — a probe of n_probe cells must hit only
    those partitions (partition pruning = the inverted-file seek), and
    re-scoring inside probed cells must equal the unpartitioned IVF
    answer."""
    from data_pipeline2_spark.operators.similarity import (
        _kmeans_fit_sample,
        _nearest_cells_udf,
        knn_batch_ivf,
    )

    emb = load_table(spark, SF, "embeddings")
    cents = _kmeans_fit_sample(emb, "vec_id", "embedding", 8, 42)
    cells = _nearest_cells_udf(cents)
    clustered = emb.withColumn(
        "cell", F.element_at(cells(F.col("embedding"), F.lit(1)), 1)
    )
    path = os.path.join(outdir, "emb_by_cell")
    clustered.write.mode("overwrite").partitionBy("cell").parquet(path)

    lake = spark.read.parquet(path)
    n_cells = clustered.select("cell").distinct().count()
    assert n_cells > 2

    # one query vector; probe its 2 nearest cells
    q = clustered.filter(F.col("vec_id") == 0).collect()[0]
    probe_cells = [int(c) for c in
                   _nearest_cells_udf(cents).func(
                       __import__("pandas").Series([q.embedding]),
                       __import__("pandas").Series([2]))[0]]
    probed = lake.filter(F.col("cell").isin(probe_cells))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the probe predicate must land in PartitionFilters (directory-level
    # pruning — the inverted-file seek), not a post-scan Filter
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in pf_line and all(str(c) in pf_line for c in probe_cells)
    # probed-cell rows == the cells the full IVF operator would score
    assert probed.count() == clustered.filter(
        F.col("cell").isin(probe_cells)).count()


def test_registry_exports_in_registration_order():
    """queries() exports every registered key in registration order, and
    oracle_sql() exactly the keys that carry an oracle."""
    from data_pipeline2_spark import registry

    assert list(registry.queries()) == [q.name for q in registry._QUERIES]
    assert set(registry.oracle_sql()) == {
        q.name for q in registry._QUERIES if q.sql is not None
    }
