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
    "bm25_batch": 4,            # query-term postings agg + (qid, doc)
                                # score agg + per-query window + the
                                # result ordering
    "hybrid_search_batch": 8,   # BM25 leg's 3 + the vector leg's
                                # per-query window + both sides of the
                                # fusion join + final window + ordering
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
    "knn_batch_ivf_exact": 1,   # the per-qid top-k window only: corpus
                                # cells map-only, probes an array expr
    "knn_batch_ivf": 1,         # same operator at n_probe=3
    "knn_batch_lsh": 1,         # sig hash join (broadcast q) + top-k window
    "knn_batch_ivfpq": 6,       # coarse IVF + ADC rank + exact rerank
                                # (7 -> 6: the cell join emits each
                                # (qid, vec_id) once, no dedup exchange)
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
    "dedup_containment": 2,     # the verify's per-doc array pack, once per
                                # join side (sigs and cands checkpoint)
    "dedup_near_incremental": 6,  # 3 doc-keyed exchanges of the store's
                                  # sig build, once per estimate join side
    "fulltext_bm25": 3,         # query-filtered postings agg + per-term
                                # df window + doc score (the scan is the
                                # index probe over an unmaterialized index)
    "fulltext_bm25_indexed": 3,  # same plan as fulltext_bm25
    "tfidf_top_terms": 3,       # postings agg + per-term df window +
                                # per-doc rank window (N is a broadcast
                                # one-row count)
    "heavy_hitters": 1,         # the (term) count agg; top-k is TakeOrdered
    "hybrid_search_rrf": 3,     # the fulltext_bm25 probe; the vector leg
                                # and the fusion run on candidate rows
    "hybrid_search_linear": 6,  # the 3-exchange BM25 probe, once per
                                # consumer of the lexical leg (min/max
                                # bounds and the normalized rows); AQE
                                # reuses the second copy at run time
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
    # registry/curation_r6b.py keys (measured at introduction)
    "events_rate_limit": 3,     # (user,win) window + distinct 2-phase agg
    "retrieval_metrics": 3,     # top-k window + per-qid agg + label counts
    "text_normalize": 0,        # map-only pandas_udf pass
    "agg_higher_moments": 1,    # one hash agg (percentile rides it)
    "ntile_segments": 1,        # segment window; groupBy reuses partitioning
    "events_resample_ohlc": 1,  # one map-side-combined hash agg
    "fuzzy_join_ed1": 2,        # vocab distincts; variant join + dedup
    "events_seasonal_baseline": 2,  # two aggs; profile join broadcasts
    "topic_cluster_terms": 3,   # cluster and term totals over the
                                # checkpointed (cluster, term) counts
                                # + the per-cluster top-n window
    "retrieval_metrics_mrl16": 3,  # same plan as retrieval_metrics
    "winsorized_stats": 2,      # percentile agg + clipped-moment agg
    "ngram_novelty": 4,         # shingle window + first-seen agg + join
    "bigram_logprob": 5,        # the doc_id repartition once per token
                                # stream consumer (bigram rows, bigram
                                # agg, unigram agg) + the two count
                                # aggs; window and rollup reuse doc_id
    "events_variant_agg": 2,    # distinct-agg two-phase over variant field
    "events_type_entropy": 3,   # (user,type) agg + totals + final rollup
    "sparse_cosine_topk": 11,   # posting self-join + dots + half-matrix
                                # mirror + norm joins + per-doc top-k
                                # window; the tokenize→tf→df_cap-prune
                                # prefix runs once behind an eager
                                # localCheckpoint (r7: prune engaged,
                                # VERDICT r6 item 2)
    "ngram_novelty_incremental": 4,  # two shingle windows + store
                                     # distinct + per-doc rollup
    # registry/curation_r7.py keys (measured at introduction)
    "image_ahash_band_eval": 4,   # truth agg + banded join + distinct +
                                  # recall join (ground-truth arm is the
                                  # documented fixture-scale crossJoin)
    "k_anonymity": 1,             # one hash agg on the quasi tuple
    "gdpr_delete_cascade": 4,     # per-entity count aggs; deletes are
                                  # broadcast anti-joins (no shuffle)
    "char_entropy": 3,            # (doc,ch) agg + totals + join-back
    "events_cusum_drift": 4,      # bucket agg + totals + 2 windows share
                                  # the per-key sort
    "cohort_ltv": 3,              # first-order agg + join-back + matrix
    "join_interval_overlap": 3,   # interval agg + bucket join + dedup
    "rm3_expansion": 4,           # bm25 postings (checkpointed fb) +
                                  # feedback tf agg + weight agg + rank
    "video_scene_cuts": 1,        # per-asset window + scene agg share
                                  # one asset-keyed exchange
    "dedup_kcore": 1,            # final degree agg (peel rounds run
                                 # behind per-round checkpoints)
    "dedup_token_savings": 2,    # keeper agg + source rollup (join-back
                                 # rides the hash partitioning)
    "events_psi_drift": 3,       # (type,bucket,side) agg + totals +
                                 # final rollup
    "kmv_distinct_sketch": 5,   # RAISED 2->5 in r8 for the honest
                                # merge shape (ADVICE r7: ALL now built
                                # from the per-group sketches, not the
                                # full set): two WindowGroupLimit-
                                # capped sketch windows + the G*k-row
                                # merged-sketch distinct are all
                                # sketch-volume exchanges; the per-
                                # scope count partial-combines; the
                                # ONLY corpus-volume exchange is the
                                # ALL n_exact count-distinct, which is
                                # the grading column a sketch-only
                                # production plan drops
    "zone_map_prune_eval": 4,   # two zone-map aggs + two 1-row rollups
    "textrank_terms": 14,       # cooc tokens window + pair agg + the
                                # 3 unrolled pagerank rounds' joins/aggs
                                # — every one over the ~100-row
                                # checkpointed edge list, vocabulary-
                                # bounded at any corpus size
    "events_theil_sen": 4,      # pair join + median agg + bucket-count
                                # join (daily series checkpointed once)
    "audio_vad_segments": 0,    # map-only decode + run detection
    "events_ab_chi2": 4,        # cell agg + two margin rollups + final
    "events_kaplan_meier": 4,   # lifetime agg + duration agg + the two
                                # duration-table windows
    "orders_pareto": 6,         # distributed rank (range repartition +
                                # pid windows + offsets) + tile agg +
                                # cum window — NO single-task global
                                # ntile window anywhere
    "embedding_zscore_outliers": 3,  # dim-stats agg + per-vector score
                                     # agg (stats broadcast back)
    "events_burstiness": 2,          # bucket agg + per-key moment agg
    "events_conversion_latency": 4,  # two firsts + key join + rollup
    # registry/curation_r8.py keys (measured at introduction)
    "winnow_fingerprints": 1,   # gram hashing is map-only; ONE doc-keyed
                                # exchange feeds the w-window struct-min
                                # AND the (doc_id, pos) dedup
                                # (partitioning reused — grouping keys
                                # contain doc_id)
    "exact_substring_spans": 3,  # post-checkpoint plan: self-join
                                # (broadcast at test SF, <= 2
                                # candidate-sized exchanges at scale) +
                                # the diagonal-island window; everything
                                # upstream of the candidate checkpoint
                                # is two map-only fingerprint scans + one
                                # df-filter shuffle, all corpus-linear
    "exact_substring_spans_winnowed": 8,  # post-checkpoint: the (doc_a,
                                # doc_b) restrict semi-join shuffles both
                                # sides (2 pair-volume exchanges; the
                                # island window REUSES the pair
                                # partitioning — subset clustering
                                # satisfies the window's distribution) +
                                # the unmaterialized winnow-index subtree
                                # (doc windows, fp-df cap groupBy, capped
                                # fp self-join — all index-volume,
                                # ~2/(w+1) of positions). Nothing here is
                                # corpus-volume; the corpus-sized work is
                                # the two map-only fingerprint scans.
    # registry/curation_r8b.py keys (measured at introduction)
    "simhash_pairs": 2,         # fingerprint groupBy + band equi-join
                                # (b-side exchange reused) incl. distinct
    "simhash_dedup_drop": 2,    # final keeper join over the
                                # checkpointed CC labels (the CC loop's
                                # own exchanges run per-round inside
                                # dedup_clusters, not in this plan)
    "join_bloom_prefilter": 1,  # result groupBy only: the probe is
                                # map-side and the fixture-scale dim
                                # auto-broadcasts (at dim sizes past the
                                # broadcast threshold the join adds its
                                # two exchanges — that regime is the
                                # operator's raison d'être, not a
                                # regression)
    # registry/curation_r9.py keys (measured at introduction)
    "simhash_pairs_capped": 6,  # fingerprint groupBy + bucket-count agg
                                # + two band-join sides + distinct (the
                                # broadcast cool-list join adds none;
                                # exchange reuse does not fire across
                                # the cap filter at fixture scale)
    "semdedup": 4,              # cluster-join sides + dropped distinct
                                # + final keeper join; Lloyd's rounds
                                # run pre-plan (driver-coordinated)
    "text_expectations": 1,     # the whole suite is ONE aggregation
    # cdc_upsert_stream excluded: it executes a streaming pipeline at
    # call time; the returned frame is a plain parquet read-back
    # registry/curation_r9b.py keys (measured at introduction)
    "block_dedup_keep_first": 2,   # fingerprint min-agg + per-doc rollup
                                   # (join-back rides the agg partitioning)
    "stupid_backoff_logprob": 3,   # held window + per-doc agg; counts
                                   # tables aggregate behind checkpoints
    "perplexity_buckets": 2,       # unigram agg + per-doc join-agg; the
                                   # bucket map derives from checkpointed
                                   # scores and broadcasts back
    "blocklist_filter": 0,         # pure map-only Catalyst projection
    # registry/curation_r9c.py keys (measured at introduction)
    "cms_frequency_eval": 2,    # sketch cell agg + probe-estimate agg
                                # (the corpus word-count agg runs once
                                # at the vocab checkpoint)
    "strip_repeated_lines": 0,  # ONE Catalyst projection, zero shuffles
    "pmi_collocations": 2,      # doc window + pair agg; the unigram
                                # agg runs at its checkpoint and
                                # broadcasts back
    # registry/curation_r9d.py keys (measured at introduction)
    "wordpiece_tokenize": 3,  # distinct scored words + per-doc rollup +
                              # the scored ids' side of the left join
                              # (vocab fit runs at its own collect)
    "retrieval_ndcg": 4,      # query window + top-k window + grade agg
                              # (+1 AQE-shaped residual); corpus never
                              # shuffles — the knn_batch broadcast shape
    # registry/curation_r9e.py keys (measured at introduction)
    "corpus_datasheet": 4,     # four independent single-row aggs (doc
                               # stats incl. percentile sort, vocab,
                               # sha dups, lang mix), crossJoined
    "phonetic_vocab_groups": 3,  # vocab agg + per-code sample window
                               # + code rollup (soundex chain map-side)
    "heaps_fit": 2,            # word->min-doc agg + per-doc token agg;
                               # checkpoint cells and the fit are
                               # single-row combinations
    "texttiling_boundaries": 1,  # ONE doc_id exchange: the sent-term,
                               # side-pivot and cosine aggs and the
                               # per-doc windows all group on keys
                               # that contain doc_id and reuse it
    "zipf_fit": 3,             # (source, word) agg + per-source rank
                               # window + the per-source regression agg
    "kneser_ney_logprob": 4,   # held doc_id repartition (window and
                               # rollup reuse it) + ctx/nbw aggs over
                               # the checkpointed bigram table + the
                               # train vocabulary distinct; LEFT joins
                               # broadcast
    "stream_tumbling_upsert": 0,  # batch READBACK plan of the merged
                               # table (the streaming job's shuffles
                               # happen inside the drained query)
    "curriculum_order": 2,     # distinct-difficulty agg + the
                               # (stage, shard) seq window (the scored
                               # projection checkpoints once)
    "t_closeness": 4,          # class-value agg + class rollup + the
                               # per-class cumulative window + final
                               # rollup (global value table checkpoints
                               # and broadcasts)
    "events_lag_autocorr": 3,  # (key,hour) agg + per-key window + the
                               # per-key rollup
    # registry/curation_r9f.py keys (measured at introduction)
    "unigram_lm_tokenize": 3,  # distinct scored words + per-doc rollup +
                               # the scored ids' side of the left join
                               # (fit runs at its own bounded collect)
    # keys without a row until the token-position core (measured there)
    "term_cooccurrence": 2,    # doc_id window + pair agg; top is a
                               # TakeOrdered
    "phrase_match_indexed": 2,  # the positional index (term, doc_id)
                               # agg once per phrase leg; the leg join
                               # broadcasts
    "near_match": 2,           # same shape: two legs, one agg each
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
