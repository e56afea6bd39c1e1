"""Round-8b operator tests: SimHash banded pair join (completeness vs
the all-pairs arm, parameter guards, plan shape) and the Bloom
semijoin prefilter (output identity with the plain join, probe stays
ahead of the exchange).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_pipeline2_spark.operators.dedup import simhash64, simhash_pairs
from data_pipeline2_spark.operators.joins import bloom_prefilter_join
from data_pipeline2_spark.sources.parquet import load_table

from .conftest import SF_ORACLE

SF = SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------ simhash


def test_simhash_pairs_banded_equals_all_pairs(spark):
    """Pigeonhole completeness, measured: at max_hamming <= bands-1 the
    banded multi-index join returns the IDENTICAL pair set as the
    O(N^2) ground-truth arm — on the real fixture near-dup structure,
    not a toy."""
    sh = simhash64(load_table(spark, SF, "documents"))
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(sh, max_hamming=3, bands=4).collect()
    }
    exact = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(sh, max_hamming=3, exact=True).collect()
    }
    assert banded == exact
    assert banded  # the fixture genuinely has hamming<=3 near-dups


def test_simhash_pairs_identical_docs_hamming_zero(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "totally different content here entirely unrelated"),
        ],
        "doc_id long, text string",
    )
    out = simhash_pairs(simhash64(docs), max_hamming=0, bands=4).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in out] == [(1, 2, 0)]


def test_simhash_pairs_incomplete_regime_raises(spark):
    """A max_hamming past the pigeonhole bound must refuse loudly —
    silently losing recall is the failure mode the guard exists for."""
    sh = simhash64(load_table(spark, SF, "documents").limit(4))
    with pytest.raises(ValueError, match="complete"):
        simhash_pairs(sh, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="bands"):
        simhash_pairs(sh, max_hamming=3, bands=5)
    # widening bands restores completeness for the looser threshold
    simhash_pairs(sh, max_hamming=7, bands=8)


def test_simhash_pairs_default_is_not_all_pairs(spark):
    """The exported plan is the banded equi-join — the crossJoin stays
    behind exact=True (the ahash_dup_pairs precedent)."""
    sh = simhash64(load_table(spark, SF, "documents"))
    plan = _plan(simhash_pairs(sh))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exact_plan = _plan(simhash_pairs(sh, exact=True))
    assert (
        "CartesianProduct" in exact_plan
        or "BroadcastNestedLoopJoin" in exact_plan
    )


def test_simhash_pairs_wider_regime_banded_equals_all_pairs(spark):
    """The 8-band/d<=7 regime (8-bit bands — denser buckets, more
    candidates) on a mutation corpus: base docs plus variants with a
    few tokens replaced, the near-dup structure SimHash exists for."""
    import random

    rng = random.Random(8)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    did = 0
    for base in range(6):
        toks = [vocab[rng.randrange(300)] for _ in range(80)]
        rows.append((did, " ".join(toks)))
        did += 1
        for _ in range(3):  # 3 variants, 2 token replacements each
            mut = list(toks)
            for _ in range(2):
                mut[rng.randrange(80)] = vocab[rng.randrange(300)]
            rows.append((did, " ".join(mut)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = simhash64(docs)
    banded = set(
        map(tuple, simhash_pairs(sh, max_hamming=7, bands=8).collect())
    )
    exact = set(
        map(tuple, simhash_pairs(sh, max_hamming=7, exact=True).collect())
    )
    assert banded == exact
    assert banded  # 2-token mutations of 80-token docs land under d=7


# ------------------------------------------------------- bloom join


def test_bloom_prefilter_join_equals_plain_join(spark):
    """The operator's whole contract: bloom fp's fall out of the exact
    join, fn's are impossible — output identical to fact ⋈ dim."""
    li = load_table(spark, SF, "lineitem")
    supp = (
        load_table(spark, SF, "supplier")
        .filter(F.col("s_nationkey") < 10)
        .select("s_suppkey")
    )
    got = (
        bloom_prefilter_join(li, supp, "l_suppkey", "s_suppkey")
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_bloom_probe_runs_before_any_exchange(spark):
    """The probe's value is shrinking the fact BEFORE its shuffle: the
    Arrow-eval bloom filter must sit below (execute ahead of) every
    hash exchange in the plan string, pinned by position."""
    li = load_table(spark, SF, "lineitem")
    supp = load_table(spark, SF, "supplier").select("s_suppkey")
    df = bloom_prefilter_join(li, supp, "l_suppkey", "s_suppkey")
    plan = _plan(df)
    assert "ArrowEvalPython" in plan  # vectorized probe, not row UDF
    # tiny fixture dims auto-broadcast (fine — the operator adds no
    # hint either way), so just pin: no cartesian fallback
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prefilter_join_type_mismatch_raises(spark):
    """xxhash64 is type-sensitive: an int fact key probing bigint-built
    bloom bits would false-negative EVERY row. The guard refuses the
    silent empty result (ADVICE r8)."""
    li = load_table(spark, SF, "lineitem").withColumn(
        "l_suppkey", F.col("l_suppkey").cast("int")
    )
    supp = load_table(spark, SF, "supplier").select("s_suppkey")
    with pytest.raises(ValueError, match="share one type"):
        bloom_prefilter_join(li, supp, "l_suppkey", "s_suppkey")


def test_bloom_prefilter_join_empty_dim(spark):
    li = load_table(spark, SF, "lineitem")
    supp = (
        load_table(spark, SF, "supplier")
        .filter(F.lit(False))
        .select("s_suppkey")
    )
    assert bloom_prefilter_join(li, supp, "l_suppkey", "s_suppkey").count() == 0
