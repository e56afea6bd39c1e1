"""Shuffle-budget regression harness: every headline query carries an
explicit EXCHANGE BUDGET (hash + range exchanges in its executed plan).
A refactor that silently adds a shuffle — the single most expensive
plan regression at 100 TB — fails here before it ever reaches a
benchmark. Budgets are the CURRENT measured counts, asserted as exact
upper bounds; lowering one is an improvement (update the table),
exceeding one demands a justification in the diff.

Broadcast exchanges are deliberately NOT budgeted: converting a shuffle
join to a broadcast join adds a BroadcastExchange while removing a far
costlier hash exchange, and AQE may do so dynamically.
"""

from __future__ import annotations

import pytest

from data_pipeline2_spark import registry

# driver-certification tier (see pytest.ini): -m driver selects the
# fast oracle/contract subset the verify harness runs each round
pytestmark = pytest.mark.driver

SF = "/root/testdata/sf0.001"

# query -> max (hash + range) exchanges in the executed plan
BUDGET = {
    "q1_pricing_summary": 2,     # agg + result ordering
    "q3_shipping_priority": 1,   # one fact-fact shuffle (dims broadcast)
    "q5_revenue_by_nation": 2,   # orders⋈lineitem + ordering
    "q6_forecast_revenue": 0,    # pure scan-filter-agg (partial agg only)
    "q18_large_orders": 1,
    "topk_per_group": 1,         # per-group window
    "chunk_fixed": 1,            # ensure_parallelism on degenerate input
    "chunk_sentence": 1,         # doc-clustered window
    "knn_batch": 1,              # per-qid top-k window (queries broadcast)
    "dedup_exact": 1,            # the content-sha groupBy
    "dedup_near_minhash": 3,     # signature agg + band join + verify
    "quality_score": 0,          # pure projection
    "text_stats": 2,             # agg + ordering
    "events_tumbling": 1,
    "events_sliding": 2,         # slot pre-aggregation exchange (7e2003b)
                                 # + the per-window sum over slots
    "events_session": 1,
    # round-5 operators: budgets measured at introduction (see
    # BENCH_NOTES round-5 notes for the market_basket/source_overlap
    # rewrites that set these numbers)
    "gopher_quality": 0,        # map-only
    "c4_quality": 0,
    "url_stats": 0,
    "curation_report": 1,       # fused scan + one tiny aggregation
    "dup_line_stats": 2,        # line-fingerprint agg + per-doc rollup
    "token_rarity": 2,          # unigram agg + per-doc join-agg
    "vocab_stats": 1,
    "source_overlap": 3,        # groupBy(sh64) + sizes + pair counts
    "merge_upsert": 2,          # changeset window + full-outer apply
    "events_ewma": 1,           # one user window, 8 lags share it
    "events_top_paths": 2,      # user window + path counts
    "market_basket": 7,         # baskets + pairs + per-part + 2 joins + sort
    "heavy_hitters_sketch": 2,  # candidate semi-join + exact count
    "embedding_dim_stats": 1,
    "vector_quantize_int8": 2,  # range agg + per-vec rollup
    # late round-5 keys (eager localCheckpoints truncate some plans: the
    # measured count covers the final, post-checkpoint stage)
    "bm25_batch": 8,            # shared postings + per-query window
    "hybrid_search_batch": 12,  # both legs + fusion + final window
    "dedup_lsh_eval": 12,       # exact + LSH pipelines + overlap joins
    "knn_batch_sq8": 7,         # candidate window + rerank joins
    "lsh_tuning_curve": 0,      # pure expression table
    "multimodal_audio_resample": 0,  # map-only codec roundtrip
    "pca_project": 0,           # driver fit + map-side projection
    "semantic_dedup_clusters": 0,  # CC runs eagerly behind checkpoints
    "mix_token_allocation": 2,  # token-count agg + full-outer join
                                # (FULL OUTER cannot broadcast)
    # round 6 (VERDICT r5 items 1+4): every remaining top-10 key from
    # the x10 wall table plus the re-sharded packing exports. The IVF
    # plans count the FINAL assignment/probe stages (the fixed-iteration
    # fit runs eagerly, its per-round exchanges are O(k*dim) metadata,
    # not corpus).
    "knn_batch_ivf_exact": 5,   # assign window + probe window + rescore joins
    "knn_batch_ivf": 5,         # same plan at n_probe=3
    "knn_batch_lsh": 1,         # sig hash join (broadcast q) + top-k window
    "knn_batch_ivfpq": 7,       # coarse IVF + ADC rank + exact rerank
    "dup_graph_triangles": 4,   # minhash bands + verify + 2 pair joins
    "pretrain_pack": 1,         # ONE per-source window (was a global
                                # single-task window before r6)
    "dataset_interleave": 2,    # per-(shard,source) pos + per-shard seq
    # round-6 NEW operators: budgets measured at introduction. The
    # CC-based and IVM keys count their full self-check plans
    # (leakage_safe_split includes the pair verify + split joins behind
    # eager checkpoints; ivm_agg_delta includes the recompute arm that
    # production drops).
    "strip_boilerplate": 3,     # line agg + boiler distinct + join-back
    "unigram_logprob": 3,       # unigram agg + per-doc join-agg
    "url_canonicalize": 1,      # ONE groupBy on the canonical key
    "dedup_containment": 3,     # sig agg + band join + containment verify
    "leakage_safe_split": 13,   # minhash verify + CC labels + split joins
    "ivm_agg_delta": 8,         # delta algebra + IVM merge + recompute arm
    "zorder_layout": 1,         # one groupBy on the z-range (key is map-side)
    "image_ahash": 0,           # map-only decode + hash
    "image_ahash_pairs": 2,     # r7: banded LSH equi-join + pair distinct
                                # (replaced the r6 all-pairs crossJoin —
                                # sub-quadratic beats exchange-free here)
    # round-10 keys: budgets measured at introduction. The composed
    # pipeline's census plan is post-checkpoint lineage (stage-survivor
    # manifests truncate upstream operator trees), so its budget covers
    # the semi-join counts + chunk/pack aggregates, not the member
    # operators — those carry their own budgets above.
    # ivf_index_stream's returned plan is the layout read-back dedup;
    # the stream side is foreachBatch (measured in SCALE.md: sub-MB
    # shuffle at x1 and x10).
    "training_pipeline_e2e": 4,
    "ivf_index_stream": 1,
    "dedup_bbit_minhash": 4,  # bit-match join (post-checkpoint sigs,
    # 2) + exact-verify array pack + pair join against it
    # round-11 keys: the serving composition's census is post-checkpoint
    # lineage (chunk store / embedding cache / vector index materialize
    # once); what remains is the cache probe/miss id joins (broadcast at
    # this scale), the one-row census aggregates, and the <= k ranking
    # window — one hash exchange measured at introduction.
    "semantic_search_e2e": 1,
    # the continuous-ingest composition: stream side is foreachBatch
    # (map-only chunk/embed/assign + partitioned append, measured in
    # SCALE.md); the returned serve plan is the pruned cell scan +
    # dedup + the <= k ranking window — one hash exchange
    "streaming_search_e2e": 1,
}


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_exchange_budget(name, spark):
    df = registry.queries()[name](spark, SF)
    n = _exchanges(df)
    assert n <= BUDGET[name], (
        f"{name}: plan has {n} hash/range exchanges, budget is "
        f"{BUDGET[name]} — a new shuffle entered this query's plan"
    )


def test_packing_exports_shard(spark):
    """The exported packing plans must partition their windows (no
    single-task global window — VERDICT r5 item 1): the executed plan's
    window/sort nodes must carry the shard key, and building the plan
    must not fire the operators' global-window UserWarning."""
    import warnings

    for key, shard in (("pretrain_pack", "source"), ("dataset_interleave", "shard")):
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # any UserWarning -> failure
            df = registry.queries()[key](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        assert shard in df.columns, key
        win_lines = [l for l in plan.splitlines() if "Window" in l]
        assert win_lines and all(shard in l for l in win_lines), (
            key,
            win_lines,
        )


def test_document_index_sink_frame_budget(spark):
    """foreachBatch sink plans escape the registry-keyed budgets above
    (VERDICT r11 finding 2: the hot ingest loop's join-back shipped
    unseen), so the document-index sink's per-micro-batch frame is
    budgeted directly. Budget 1 = chunk_sentence's local-mode
    ensure_parallelism bootstrap ONLY (a no-op on cluster masters,
    plans/partitioning.py:34); chunk → embed → frozen-cell assign →
    embedding pass-through are all map-only. The former
    `ivf_cell_assign(vecs).join(vecs, "vec_id")` shape measured 2
    hash exchanges AND re-executed the chunk→embed lineage twice."""
    from data_pipeline2_spark.sources.parquet import load_table
    from data_pipeline2_spark.streaming import stateful

    docs = load_table(spark, SF, "documents")
    cents = [(0, [0.0] * 64), (1, [1.0] * 64)]
    frame = stateful.document_index_frame(docs, cents)
    n = _exchanges(frame)
    assert n <= 1, (
        f"document_index_frame: {n} hash/range exchanges, budget is 1 "
        "(the local ensure_parallelism bootstrap) — a shuffle entered "
        "the streaming ingest hot loop"
    )


def test_ivf_layout_sink_assign_budget(spark):
    """The vector-stream sink's per-batch work is exactly
    ivf_cell_assign — _frozen_argmin_assign's map-only contract
    (broadcast 1-row centroid frame, array_min argmin, zero hash/range
    exchanges) pinned on a vector-shaped input, embeddings carried
    through."""
    from data_pipeline2_spark.operators.similarity import ivf_cell_assign
    from data_pipeline2_spark.sources.parquet import load_table

    vecs = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = [(0, [0.0] * 64), (1, [1.0] * 64)]
    frame = ivf_cell_assign(vecs, cents, keep_cols=("embedding",))
    n = _exchanges(frame)
    assert n == 0, (
        f"ivf_cell_assign: {n} hash/range exchanges — the frozen-cell "
        "assignment must stay map-only"
    )
