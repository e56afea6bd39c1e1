"""Round-9b operator tests: block-granular keep-first dedup, Stupid
Backoff held-out LM scoring, CCNet perplexity bucketing, wordlist gate.

Value parity vs DuckDB is covered for every key by test_oracle_parity
(and the dirty/empty-lake gates pick the keys up automatically); these
tests pin the SEMANTICS on constructed micro-corpora — which occurrence
survives, which backoff level fires, which bucket a tie lands in.
Their exchange budgets are in test_exchange_budget.py.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from data_pipeline2_spark.operators import quality


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ------------------------------------------------------------- block dedup


def test_block_dedup_keeps_first_occurrence_only(spark):
    blk = " ".join(f"w{i}" for i in range(10))  # one shared 10-token block
    other = " ".join(f"x{i}" for i in range(10))
    rows = [
        (7, blk + " tail1 tail2"),          # first occurrence (doc order)
        (9, other + " " + blk),             # second occurrence of blk
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in quality.block_dedup_keep_first(_docs(spark, rows)).collect()
    }
    # doc 7: 1 full block (trailing 2 tokens not dedup-eligible), kept
    assert out[7]["n_blocks"] == 1 and out[7]["kept_blocks"] == 1
    assert out[7]["tokens_removed"] == 0
    # doc 9: block 0 (other) novel -> kept; block 1 (blk) repeat -> drop
    assert out[9]["n_blocks"] == 2 and out[9]["kept_blocks"] == 1
    assert out[9]["dropped_blocks"] == 1 and out[9]["tokens_removed"] == 10
    # positional checksum: doc 7 kept blk at idx 0; doc 9 kept other at 0
    assert out[7]["kept_checksum"] == (_h60(blk) % 2**32) * 1
    assert out[9]["kept_checksum"] == (_h60(other) % 2**32) * 1


def test_block_dedup_short_docs_emit_no_row(spark):
    out = quality.block_dedup_keep_first(
        _docs(spark, [(1, "only nine tokens a b c d e f"), (2, None)])
    ).collect()
    assert out == []


# ---------------------------------------------------------- stupid backoff


def test_stupid_backoff_levels_and_terms(spark):
    # train (even id): tokens a b c a b d
    #   uni: a2 b2 c1 d1 (N=6, V=4); bi: (a,b)2 (b,c)1 (c,a)1 (b,d)1
    #   tri: (a,b,c) (b,c,a) (c,a,b) (a,b,d) each 1
    # held (odd id): d a b c x z ->
    #   (d,a,b): tri miss, bi(a,b)=2/c(a)=2 -> level 2, ln(a)+ln(1)
    #   (a,b,c): tri 1 / bi(a,b) 2         -> level 3, ln(1/2)
    #   (b,c,x): bi(c,x) miss, c(x)=0      -> level 1, 2ln(a)+ln(1/10)
    #   (c,x,z): bi(x,z) miss, c(z)=0      -> level 1, 2ln(a)+ln(1/10)
    rows = [(0, "a b c a b d"), (1, "d a b c x z")]
    out = quality.stupid_backoff_logprob(_docs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["doc_id"] == 1 and r["n_trigrams"] == 4
    assert (r["hits3"], r["hits2"], r["hits1"]) == (1, 1, 2)
    la = quality._SB_LOG_ALPHA
    s = quality._LOGPROB_SCALE

    def term(x):
        return math.floor(x * s)

    expected = (
        term(la + math.log(2.0 / 2.0))
        + term(math.log(1.0 / 2.0))
        + 2 * term(la + la + math.log(1.0 / 10.0))
    )
    assert r["logprob_sum_scaled"] == expected


def test_stupid_backoff_negative_ids_use_pmod_residue(spark):
    # -2 is an even residue (train), -1 odd (scored): negative ids must
    # not silently vanish from the split
    rows = [(-2, "a b c a b c"), (-1, "a b c")]
    out = quality.stupid_backoff_logprob(_docs(spark, rows)).collect()
    assert [r["doc_id"] for r in out] == [-1]
    assert out[0]["hits3"] == 1  # (a,b,c) seen in training


# ------------------------------------------------------ perplexity buckets


def test_perplexity_buckets_thirds_and_tie_handling(spark):
    # 9 docs, 3 score classes by construction: docs repeating one rare
    # word score lowest; ties (same integer score) share one bucket
    common = "t " * 30  # 't' dominates the unigram table
    rows = (
        [(i, common + "u u u") for i in range(3)]        # frequent tail word
        + [(i + 3, common + "v v") for i in range(3)]    # mid
        + [(i + 6, common) for i in range(3)]            # pure head
    )
    out = {
        r["doc_id"]: r["ppl_bucket"]
        for r in quality.perplexity_buckets(
            _docs(spark, [(d, t.strip()) for d, t in rows])
        ).collect()
    }
    assert len(set(out[i] for i in range(3))) == 1
    assert len(set(out[i + 3] for i in range(3))) == 1
    assert len(set(out[i + 6] for i in range(3))) == 1
    buckets = {out[0], out[3], out[6]}
    assert buckets == {"head", "middle", "tail"}
    # pure-common docs have the highest avg logprob -> head (CCNet: the
    # cleanest slice), the rare-word docs -> tail
    assert out[6] == "head" and out[0] == "tail"


# ----------------------------------------------------------- blocklist


def test_blocklist_filter_threshold_semantics(spark):
    rows = [
        (1, "slow slow merge clean"),  # 3/4 = 0.75 -> blocked
        (2, "clean words only here"),  # 0 -> not blocked
        (3, "   "),                    # blank -> 0 tokens, not blocked
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in quality.blocklist_stats(_docs(spark, rows)).collect()
    }
    assert out[1]["blocked"] and out[1]["n_blocked"] == 3
    assert not out[2]["blocked"] and out[2]["n_blocked"] == 0
    assert out[3]["n_tokens"] == 0 and not out[3]["blocked"]


# ------------------------------------------------------------- unimax


def test_unimax_waterfilling_invariants(spark):
    from data_pipeline2_spark.operators.sampling import unimax_allocation

    # 4 sources: 10, 20, 100, 100 tokens; epoch_cap=1, budget_frac such
    # that B = floor(0.5 * 230) = 115: sorted caps 10,20,100,100 ->
    # 10*4+0=40<=115 capped; 20*3+10=70<=115 capped; 100*2+30=230>115
    # uncapped -> level = (115-30) div 2 = 42
    rows = []
    for s, n in [("a", 10), ("b", 20), ("c", 100), ("d", 100)]:
        rows.append((hash(s) % 100, s, " ".join(["w"] * n)))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out = {
        r["source"]: r.asDict()
        for r in unimax_allocation(docs, budget_frac=0.5).collect()
    }
    assert out["a"]["capped"] and out["a"]["alloc_tokens"] == 10
    assert out["b"]["capped"] and out["b"]["alloc_tokens"] == 20
    assert not out["c"]["capped"] and out["c"]["alloc_tokens"] == 42
    assert not out["d"]["capped"] and out["d"]["alloc_tokens"] == 42
    # UniMax's defining guarantee: no source exceeds the epoch cap
    assert all(r["epochs"] <= 1.0 + 1e-9 for r in out.values())
    # budget never exceeded; leftover strictly below #uncapped
    total = sum(r["alloc_tokens"] for r in out.values())
    assert total <= 115 and 115 - total < 2


def test_unimax_all_capped_when_budget_covers_everything(spark):
    from data_pipeline2_spark.operators.sampling import unimax_allocation

    docs = spark.createDataFrame(
        [(1, "a", "x y z"), (2, "b", "p q")],
        "doc_id long, source string, text string",
    )
    # epoch_cap=2 doubles every cap; a 0.95 budget of available < caps
    # total, so the smaller source still caps first under level math;
    # with epoch_cap=0.1 every cap collapses below any fair share
    out = unimax_allocation(docs, budget_frac=0.95, epoch_cap=0.1).collect()
    assert all(r["capped"] for r in out)
    assert {r["source"]: r["alloc_tokens"] for r in out} == {
        "a": 0,  # floor(0.1*3)=0
        "b": 0,  # floor(0.1*2)=0
    }


# ---------------------------------------------------------- l-diversity


def test_l_diversity_homogeneous_class_flagged(spark):
    """The homogeneity attack k-anonymity misses: a class of 5 records
    (k-anonymous at k=5) whose sensitive value is CONSTANT must fail
    the ℓ=2 audit, while an equally-sized mixed class passes."""
    from data_pipeline2_spark.operators.governance import l_diversity_audit

    rows = (
        [(i, "qa", "s0") for i in range(5)]           # homogeneous
        + [(i + 5, "qb", f"s{i % 3}") for i in range(5)]  # 3 values
        + [(10, "qc", None), (11, "qc", "s1")]        # NULL not diverse
    )
    df = spark.createDataFrame(rows, "rid long, q string, sens string")
    out = {
        r["q"]: r.asDict()
        for r in l_diversity_audit(df, ["q"], "sens", l=2).collect()
    }
    assert not out["qa"]["l_diverse"]
    assert out["qa"]["n"] == 5 and out["qa"]["n_sensitive_distinct"] == 1
    assert out["qb"]["l_diverse"]
    # NULL contributes nothing: one real value -> not 2-diverse
    assert out["qc"]["n_sensitive_distinct"] == 1
    assert not out["qc"]["l_diverse"]


def test_l_diversity_validates_params(spark):
    from data_pipeline2_spark.operators.governance import l_diversity_audit

    df = spark.createDataFrame([(1, "a", "x")], "rid long, q string, s string")
    with pytest.raises(ValueError, match="l must be >= 2"):
        l_diversity_audit(df, ["q"], "s", l=1)
    with pytest.raises(ValueError, match="quasi-identifier"):
        l_diversity_audit(df, [], "s", l=2)


# --------------------------------------------------------- shard manifest


def test_shard_manifest_reproducible_and_null_safe(spark):
    from data_pipeline2_spark.operators.writers import shard_manifest

    rows = [
        (0, "alpha beta"),
        (8, "alpha beta"),     # same shard (pmod 8), same text
        (-3, "gamma"),         # negative id: pmod -> shard 5, not -3
        (5, None),             # NULL text ships: counted, zero-weighted
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["shard"]: r.asDict() for r in shard_manifest(docs).collect()}
    # reproducibility: a permuted re-export computes the SAME manifest
    b = {
        r["shard"]: r.asDict()
        for r in shard_manifest(
            spark.createDataFrame(list(reversed(rows)),
                                  "doc_id long, text string")
        ).collect()
    }
    assert a == b
    assert set(a) == {0, 5}
    s0 = a[0]
    assert s0["n_docs"] == 2 and s0["n_tokens"] == 4
    assert s0["min_doc_id"] == 0 and s0["max_doc_id"] == 8
    # identical texts contribute identical checksum terms
    assert s0["content_checksum"] % 2 == 0
    s5 = a[5]
    assert s5["n_docs"] == 2  # the NULL-text doc is counted...
    assert s5["min_doc_id"] == -3
    # ...but weightless: totals equal the non-null doc's alone
    assert s5["n_tokens"] == 1 and s5["n_bytes"] == 5
