"""Round-8 operator tests: exact-substring spans (the Lee et al. 2022
50-token exact-substring dedup standard) — span maximality, positions,
sub-threshold rejection and the boilerplate df cap (the plan budgets
live in test_exchange_budget).
"""

from __future__ import annotations

import pytest

from data_pipeline2_spark.operators.dedup import exact_substring_spans

from .conftest import SF_ORACLE

SF = SF_ORACLE


def _doc(*token_groups):
    return " ".join(" ".join(g) for g in token_groups)


def _u(prefix, n, start=0):
    return [f"{prefix}{i}" for i in range(start, start + n)]


def test_exact_substring_span_maximal_and_positioned(spark):
    shared = _u("s", 60)
    docs = spark.createDataFrame(
        [
            (1, _doc(_u("a", 20), shared, _u("b", 15))),
            (2, _doc(_u("c", 5), shared, _u("d", 30))),
        ],
        "doc_id long, text string",
    )
    out = exact_substring_spans(docs, n_tokens=50).collect()
    # ONE maximal span, not eleven window-sized fragments
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.span_tokens == 60
    # 1-based token positions of the span start in each doc
    assert r.a_start == 21 and r.b_start == 6


def test_exact_substring_below_threshold_not_reported(spark):
    shared = _u("s", 49)  # one token short of the standard
    docs = spark.createDataFrame(
        [
            (1, _doc(_u("a", 10), shared)),
            (2, _doc(_u("c", 10), shared)),
        ],
        "doc_id long, text string",
    )
    assert exact_substring_spans(docs, n_tokens=50).count() == 0


def test_exact_substring_two_disjoint_spans_two_rows(spark):
    s1, s2 = _u("x", 50), _u("y", 55)
    docs = spark.createDataFrame(
        [
            (1, _doc(s1, _u("a", 10), s2)),
            (2, _doc(s2, _u("b", 20), s1)),
        ],
        "doc_id long, text string",
    )
    out = {r.span_tokens for r in exact_substring_spans(docs, n_tokens=50).collect()}
    assert out == {50, 55}


def test_exact_substring_df_cap_excludes_boilerplate(spark):
    boiler = _u("s", 50)
    # the boilerplate window appears in 5 docs > cap 4 -> excluded;
    # the pairwise-only span between docs 100/101 survives
    rows = [(i, _doc([f"u{i}_{j}" for j in range(3)], boiler)) for i in range(5)]
    pair = _u("p", 52)
    rows += [(100, _doc(pair)), (101, _doc(pair, _u("z", 5)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_substring_spans(docs, n_tokens=50, df_cap_abs=4).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(100, 101)}
    assert out[0].span_tokens == 52


def test_exact_substring_case_folded_and_validated(spark):
    shared = _u("s", 50)
    docs = spark.createDataFrame(
        [
            (1, " ".join(t.upper() for t in shared)),
            (2, " ".join(shared)),
        ],
        "doc_id long, text string",
    )
    assert exact_substring_spans(docs, n_tokens=50).count() == 1
    with pytest.raises(ValueError):
        exact_substring_spans(docs, n_tokens=1)
    with pytest.raises(ValueError):
        exact_substring_spans(docs, df_cap_abs=1)


def test_exact_substring_dedup_stats_merges_overlapping_cuts(spark):
    """Doc 3 shares one 60-token span with doc 1 and an overlapping
    70-token span with doc 2 (the two cut intervals overlap inside
    doc 3): removal accounting must count the interval UNION once,
    and only higher-id docs get cut (lowest id keeps its copy)."""
    from data_pipeline2_spark.operators.dedup import (
        exact_substring_dedup_stats,
    )

    block = _u("s", 80)
    docs = spark.createDataFrame(
        [
            (1, _doc(block[:60])),          # matches doc3 tokens 1..60
            (2, _doc(block[10:])),          # matches doc3 tokens 11..80
            (3, _doc(block, _u("z", 5))),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           exact_substring_dedup_stats(docs, n_tokens=50).collect()}
    # doc1 keeps everything; doc2 is cut by its doc1-shared overlap
    # (tokens 1..50 of doc2 == doc1 tokens 11..60); doc3 cut by both
    assert 1 not in out
    assert out[3].n_cut_spans == 1          # [1..60] U [11..80] = [1..80]
    assert out[3].tokens_removed == 80
    assert out[3].tokens_kept == 5
    assert out[2].tokens_removed == 50
    r3 = out[3]
    assert abs(r3.removed_ratio - 80 / 85) < 1e-6


def test_winnow_guarantee_on_constructed_span(spark):
    """The published winnowing guarantee, on a fixture where we KNOW
    the shared span: k + w - 1 = 50, so a 50-token shared span must
    put at least one identical (pos-independent) fingerprint in both
    docs — even though the span sits at different offsets."""
    from data_pipeline2_spark.operators.dedup import winnow_fingerprints

    shared = _u("s", 50)
    docs = spark.createDataFrame(
        [
            (1, _doc(_u("a", 17), shared, _u("b", 4))),
            (2, _doc(_u("c", 3), shared, _u("d", 29))),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=25, w=26).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "guaranteed shared fingerprint missing"


def test_winnow_density_and_determinism(spark):
    from data_pipeline2_spark.operators.dedup import winnow_fingerprints

    # one long unique-token doc: selection density should be near the
    # theoretical 2/(w+1), and two runs must select identical sets
    doc = [(1, " ".join(f"t{i * 7919 % 104729}" for i in range(400)))]
    docs = spark.createDataFrame(doc, "doc_id long, text string")
    out1 = {(r.pos, r.fp) for r in winnow_fingerprints(docs, k=5, w=9).collect()}
    out2 = {(r.pos, r.fp) for r in winnow_fingerprints(docs, k=5, w=9).collect()}
    assert out1 == out2
    n_positions = 400 - 4
    density = len(out1) / n_positions
    assert 0.1 < density < 0.35  # 2/(w+1) = 0.2, generous band
    with pytest.raises(ValueError):
        winnow_fingerprints(docs, k=5, w=1)


def test_winnow_short_docs_excluded(spark):
    from data_pipeline2_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, " ".join(_u("a", 49))), (2, " ".join(_u("b", 50)))],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(docs, k=25, w=26).collect()
    # doc 1 has no complete hash window (needs k+w-1 = 50 tokens)
    assert {r.doc_id for r in out} == {2}


# ------------------------------------------- q12/q21 (prepared, gated)


def test_q12_shipmode_priority_semantics(spark):
    """dbgen semantics on a constructed lineitem WITH the columns the
    driver testdata lacks: only ship < commit < receipt lines count,
    split by order priority."""
    import datetime as dt

    from data_pipeline2_spark.operators.joins import shipmode_priority

    d = dt.date
    orders = spark.createDataFrame(
        [(1, "1-URGENT"), (2, "5-LOW"), (3, "2-HIGH")],
        "o_orderkey long, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [
            # counted: ship < commit < receipt
            (1, "MAIL", d(2024, 1, 1), d(2024, 1, 5), d(2024, 1, 9)),
            (2, "MAIL", d(2024, 1, 1), d(2024, 1, 5), d(2024, 1, 9)),
            (3, "SHIP", d(2024, 1, 1), d(2024, 1, 5), d(2024, 1, 9)),
            # NOT counted: shipped after committing
            (1, "MAIL", d(2024, 1, 6), d(2024, 1, 5), d(2024, 1, 9)),
            # NOT counted: received before committing
            (2, "SHIP", d(2024, 1, 1), d(2024, 1, 5), d(2024, 1, 3)),
        ],
        "l_orderkey long, l_shipmode string, l_shipdate date, "
        "l_commitdate date, l_receiptdate date",
    )
    out = {r.l_shipmode: r for r in shipmode_priority(orders, li).collect()}
    assert out["MAIL"].high_line_count == 1  # order 1 urgent
    assert out["MAIL"].low_line_count == 1   # order 2 low
    assert out["SHIP"].high_line_count == 1  # order 3 high
    assert out["SHIP"].low_line_count == 0
    only = shipmode_priority(orders, li, modes=["MAIL"]).collect()
    assert {r.l_shipmode for r in only} == {"MAIL"}


def test_q21_suppliers_waiting_semantics(spark):
    """The EXISTS/NOT-EXISTS pair as an aggregated per-order
    predicate: supplier waits iff its late line sits on a finalized
    multi-supplier order where NO other supplier was late."""
    import datetime as dt

    from data_pipeline2_spark.operators.joins import suppliers_waiting

    d = dt.date
    supplier = spark.createDataFrame(
        [(10, "S10"), (20, "S20"), (30, "S30")],
        "s_suppkey long, s_name string",
    )
    orders = spark.createDataFrame(
        [(1, "F"), (2, "F"), (3, "O"), (4, "F")],
        "o_orderkey long, o_orderstatus string",
    )
    late = (d(2024, 1, 5), d(2024, 1, 9))   # commit, receipt (late)
    ok = (d(2024, 1, 5), d(2024, 1, 4))     # on time
    li = spark.createDataFrame(
        [
            # order 1: supp 10 late, supp 20 on time -> S10 waits
            (1, 10, *late), (1, 20, *ok),
            # order 2: both late -> nobody counts (another late exists)
            (2, 10, *late), (2, 20, *late),
            # order 3: like order 1 but status O -> excluded
            (3, 10, *late), (3, 20, *ok),
            # order 4: single-supplier late -> excluded (no co-supplier)
            (4, 30, *late),
        ],
        "l_orderkey long, l_suppkey long, l_commitdate date, "
        "l_receiptdate date",
    )
    out = {r.s_name: r.numwait for r in
           suppliers_waiting(supplier, li, orders).collect()}
    assert out == {"S10": 1}


def test_q12_q21_registration_gated_on_testdata_columns(spark):
    """The keys self-register the round the driver testdata ships
    l_receiptdate/l_commitdate/l_shipmode — and MUST stay dormant
    while it doesn't (a registered key the driver can't run would
    fail the whole correctness window)."""
    import pyarrow.parquet as pq

    from data_pipeline2_spark import registry
    from data_pipeline2_spark.registry.curation_r8 import (
        _lineitem_has_q12_columns,
    )

    have = {"l_receiptdate", "l_commitdate", "l_shipmode"} <= set(
        pq.read_schema("/root/testdata/sf0.01/lineitem.parquet").names
    )
    assert _lineitem_has_q12_columns() == have
    assert ("q12_shipmode_priority" in registry.queries()) == have
    assert ("q21_suppliers_waiting" in registry.queries()) == have


def test_winnowed_scale_path_equals_exact_key(spark):
    """The winnow-then-verify pipeline is LOSSLESS at the 50-token
    threshold (k + w - 1 = 50): the restricted extractor's output must
    equal the exhaustive key's, row for row."""
    from data_pipeline2_spark import registry

    q = registry.queries()
    cols = ["doc_a", "doc_b", "a_start", "b_start", "span_tokens"]
    exact = sorted(
        tuple(r[c] for c in cols)
        for r in q["exact_substring_spans"](spark, SF).collect()
    )
    winnowed = sorted(
        tuple(r[c] for c in cols)
        for r in q["exact_substring_spans_winnowed"](spark, SF).collect()
    )
    assert exact == winnowed and len(exact) > 0


def test_incremental_key_is_batch_touching_subset_of_exact(spark):
    """exact_substring_spans_incremental must equal the exhaustive key
    filtered to pairs touching the incoming batch (doc_id >= 250) —
    base-vs-base pairs were settled when the base was indexed."""
    from data_pipeline2_spark import registry

    q = registry.queries()
    cols = ["doc_a", "doc_b", "a_start", "b_start", "span_tokens"]
    exact = sorted(
        tuple(r[c] for c in cols)
        for r in q["exact_substring_spans"](spark, SF).collect()
        if r.doc_a >= 250 or r.doc_b >= 250
    )
    inc = sorted(
        tuple(r[c] for c in cols)
        for r in q["exact_substring_spans_incremental"](spark, SF).collect()
    )
    assert inc == exact and len(inc) > 0
