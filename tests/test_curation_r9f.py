"""Unigram-LM tokenizer tests (Kudo 2018): Viterbi semantics, the
train/held-out split and the UNK contract. Value parity vs the
unrolled-DP DuckDB oracle is covered by test_oracle_parity + the lake
gates; the exchange budget lives in test_exchange_budget.
"""

from __future__ import annotations

import hashlib

from data_pipeline2_spark.operators import tokenizer


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2**32


# ---------------------------------------------------------- viterbi unit


def test_ulm_viterbi_prefers_higher_probability_split():
    # scores: 'ab' massively likelier than 'a'+'b'
    s = {"a": -50, "b": -50, "ab": -10}
    assert tokenizer._ulm_viterbi("ab", s) == ["ab"]
    # flipped: the char path wins
    s2 = {"a": -5, "b": -5, "ab": -100}
    assert tokenizer._ulm_viterbi("ab", s2) == ["a", "b"]


def test_ulm_viterbi_tie_prefers_longest_final_piece():
    # dp ties exactly: 'ab' = -20, 'a'+'b' = -10 + -10 = -20 ->
    # smallest split point wins = the single long piece
    s = {"a": -10, "b": -10, "ab": -20}
    assert tokenizer._ulm_viterbi("ab", s) == ["ab"]


def test_ulm_viterbi_unreachable_returns_none():
    assert tokenizer._ulm_viterbi("ax", {"a": -1}) is None


# ------------------------------------------------------------ end to end


def test_unigram_lm_fit_and_tokenize_split_semantics(spark):
    # train (even ids): 'river' dominant -> whole-ish pieces get mass;
    # held-out (odd ids): 'river' segments cheaply, 'xyzq' has chars
    # the train split never produced -> UNK
    rows = [
        (0, "river river river bank"),
        (2, "river bank bank"),
        (1, "river xyzq"),
        (3, "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    scores = tokenizer.unigram_lm_fit(docs)
    # the fit is driver-side Python: predict the held-out stats exactly
    out = {
        r["doc_id"]: r.asDict()
        for r in tokenizer.unigram_lm_tokenize_stats(docs, scores).collect()
    }
    assert set(out) == {1, 3}
    r1 = out[1]
    assert r1["n_words"] == 2 and r1["n_unk_words"] == 1
    pieces = tokenizer._ulm_viterbi("river", scores)
    assert pieces is not None
    exp_np = len(pieces) + 1  # river's pieces + the UNK token
    assert r1["n_pieces"] == exp_np
    exp_lp = sum(scores[p] for p in pieces)  # UNK carries no LM mass
    assert r1["logprob_sum_scaled"] == exp_lp
    wck = sum(_h32(p) * (k + 1) for k, p in enumerate(pieces))
    exp_ck = (wck * 1) % 2**32 + (_h32("[UNK]") * 2) % 2**32
    assert r1["ulm_checksum"] == exp_ck
    # blank scored doc -> all-zero row
    assert out[3] == {
        "doc_id": 3,
        "n_words": 0,
        "n_unk_words": 0,
        "n_pieces": 0,
        "logprob_sum_scaled": 0,
        "ulm_checksum": 0,
    }


def test_unigram_lm_long_words_unk(spark):
    rows = [(0, "short words here"), (1, "a" * 13 + " short")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    scores = tokenizer.unigram_lm_fit(docs)
    r = tokenizer.unigram_lm_tokenize_stats(docs, scores).collect()[0]
    assert r["n_unk_words"] == 1  # the 13-char word exceeds the cap


def test_unigram_lm_em_moves_mass_to_used_pieces(spark):
    """The M-step signature: after one EM round a piece the Viterbi
    actually USES scores strictly higher than an equally-seeded
    substring it never uses."""
    docs = spark.createDataFrame(
        [(0, "abcd abcd abcd abcd")], "doc_id long, text string"
    )
    scores = tokenizer.unigram_lm_fit(docs)
    pieces = tokenizer._ulm_viterbi("abcd", scores)
    used = set(pieces)
    unused = set(scores) - used
    assert used and unused
    # every used piece of the same length outranks unused same-length
    for p in used:
        same_len_unused = [q for q in unused if len(q) == len(p)]
        if same_len_unused:
            assert scores[p] > max(scores[q] for q in same_len_unused)


# --------------------------------------------------------------- benford


def test_benford_flags_uniform_digits_not_conforming(spark):
    from datetime import datetime

    from data_pipeline2_spark.operators import aggregates

    # 1000 values whose leading digits FOLLOW Benford (by construction)
    rows = []
    i = 0
    for d, ppm in aggregates.BENFORD_PPM.items():
        for _ in range(round(ppm / 1000)):  # ~301, ~176, ... per mille
            rows.append((i, datetime(2024, 1, 1), 1, "t", float(d), None))
            i += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {
        r["digit"]: r.asDict()
        for r in aggregates.benford_digit_test(ev).collect()
    }
    assert set(out) == set(range(1, 10))
    assert not any(r["suspicious"] for r in out.values())
    # uniform leading digits: digit 1 collapses to ~111111 ppm, 190k off
    rows2 = [
        (i, datetime(2024, 1, 1), 1, "t", float(d), None)
        for i, d in enumerate([1 + (k % 9) for k in range(900)])
    ]
    ev2 = spark.createDataFrame(
        rows2,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out2 = {
        r["digit"]: r.asDict()
        for r in aggregates.benford_digit_test(ev2).collect()
    }
    assert out2[1]["suspicious"] and out2[9]["suspicious"]


def test_benford_excludes_null_zero_uses_abs_and_cents(spark):
    from datetime import datetime

    from data_pipeline2_spark.operators import aggregates

    rows = [
        (1, datetime(2024, 1, 1), 1, "t", 0.0, None),    # excluded
        (2, datetime(2024, 1, 1), 1, "t", None, None),   # excluded
        (3, datetime(2024, 1, 1), 1, "t", -9.5, None),   # cents 950 -> 9
        (4, datetime(2024, 1, 1), 1, "t", 0.07, None),   # cents 7 -> 7
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {
        r["digit"]: r.asDict()
        for r in aggregates.benford_digit_test(ev).collect()
    }
    assert out[9]["observed"] == 1 and out[7]["observed"] == 1
    assert out[1]["observed"] == 0          # zero rows still emit
    assert out[1]["n_total"] == 2
