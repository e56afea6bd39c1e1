"""Round-9d operator tests: WordPiece greedy tokenization (fit + apply)
and graded-relevance nDCG@k.

Value parity vs DuckDB is covered by test_oracle_parity (and the
dirty/empty-lake gates); these pin the SEMANTICS on constructed
micro-corpora — longest-match-first preference, the UNK contract,
train/held-out split residues, ideal-vs-achieved DCG orderings. Their
exchange budgets are in test_exchange_budget.py.
"""

from __future__ import annotations

import hashlib

import pytest

from data_pipeline2_spark.operators import similarity, tokenizer


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2**32


# ------------------------------------------------------------- wordpiece


def test_wp_match_longest_first_and_checksum():
    init = frozenset({"un", "unbeliev", "u", "n", "b"})
    cont = frozenset({"able", "a", "b", "l", "e"})
    n, unk, ck = tokenizer._wp_match("unbelievable", init, cont, 8, 16)
    # greedy prefers 'unbeliev' (8 chars) over 'un', then '##able';
    # the word checksum reduces mod 2^32 (ADVICE r9: keeps the
    # downstream position multiply inside int64)
    assert (n, unk) == (2, False)
    assert ck == (_h32("unbeliev") * 1 + _h32("##able") * 2) % 2**32


def test_wp_match_unk_contract():
    init = frozenset({"a"})
    cont = frozenset({"a"})
    # unseen char in continuation position -> whole word UNK
    assert tokenizer._wp_match("ax", init, cont, 8, 16) == (
        1,
        True,
        _h32("[UNK]"),
    )
    # over the char cap -> UNK without matching
    assert tokenizer._wp_match("a" * 17, init, cont, 8, 16)[1] is True
    # empty word (split artifact on tab-only text) -> UNK
    assert tokenizer._wp_match("", init, cont, 8, 16)[1] is True


def test_wordpiece_vocab_derivation(spark):
    # train = even doc_ids only; 'hello' appears 5x -> whole piece;
    # prefixes/suffixes of 'walking'(x5) with count>=5; odd doc ignored
    rows = [(0, "hello " * 5 + "walking " * 5), (1, "never in vocab zz")]
    init, cont = tokenizer.wordpiece_vocab(
        _docs(spark, [(d, t.strip()) for d, t in rows])
    )
    # both <= max_piece chars with count >= 5 -> whole-word init pieces
    assert "hello" in init and "walking" in init
    assert "wa" in init and "walkin" in init      # prefixes
    assert "ng" in cont and "alking" in cont      # suffixes
    assert "z" not in init and "z" not in cont    # odd doc never trains
    assert "h" in init and "h" in cont            # char coverage, both kinds


def test_wordpiece_stats_split_and_zero_rows(spark):
    rows = [
        (0, "cat " * 5),        # train: 'cat' becomes a whole piece
        (1, "cat cats"),        # scored: cat -> 1 piece; cats -> cat+##s
        (3, "   "),             # scored blank -> all-zero row
        (2, "cat"),             # train (even) -> not in output
    ]
    init, cont = tokenizer.wordpiece_vocab(_docs(spark, rows))
    out = {
        r["doc_id"]: r.asDict()
        for r in tokenizer.wordpiece_tokenize_stats(
            _docs(spark, rows), init, cont
        ).collect()
    }
    assert set(out) == {1, 3}
    r1 = out[1]
    # train chars = {c,a,t}: 'cats' greedy-matches 'cat' then hits the
    # unseen 's' in continuation position -> the whole word UNKs
    n, unk, ck = tokenizer._wp_match("cats", init, cont, 8, 16)
    assert unk is True
    assert r1["n_words"] == 2 and r1["n_unk_words"] == 1
    assert r1["n_pieces"] == 1 + 1  # cat(1 piece) + cats(UNK counts 1)
    exp = (_h32("cat") * 1 * 1) % 2**32 + (_h32("[UNK]") * 2) % 2**32
    assert r1["wp_checksum"] == exp
    assert out[3] == {
        "doc_id": 3,
        "n_words": 0,
        "n_unk_words": 0,
        "n_pieces": 0,
        "wp_checksum": 0,
    }


# ----------------------------------------------------------------- nDCG


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_ndcg_perfect_and_null_cases(spark):
    disc, cum = similarity._ndcg_discounts(10)
    rows = [
        (1, [1.0, 0.0], 1),   # query for label 1
        (2, [1.0, 0.0], 1),   # rel 2, cos 1 -> rank 1
        (3, [0.0, 1.0], 2),   # query for label 2; rel 1 for q1, cos 0
        (4, [-1.0, 0.0], 5),  # query for label 5; rel 0 for q1
    ]
    out = {
        r["qid"]: r.asDict()
        for r in similarity.retrieval_ndcg(_emb(spark, rows)).collect()
    }
    q1 = out[1]
    assert (q1["n_rel2"], q1["n_rel1"]) == (1, 1)
    assert q1["dcg_scaled"] == 3 * disc[0] + 1 * disc[1]
    assert q1["idcg_scaled"] == q1["dcg_scaled"]  # achieved == ideal
    assert q1["ndcg_at_k"] == 1.0
    # label 5 has no same/adjacent labels -> idcg 0 -> NULL ndcg
    q5 = out[4]
    assert q5["idcg_scaled"] == 0 and q5["ndcg_at_k"] is None


def test_ndcg_penalizes_rel1_above_rel2(spark):
    disc, cum = similarity._ndcg_discounts(10)
    rows = [
        (1, [1.0, 0.0], 1),  # query
        (2, [0.0, 1.0], 1),  # rel 2 but cos 0 -> rank 2
        (3, [1.0, 0.0], 2),  # rel 1 but cos 1 -> rank 1
    ]
    q1 = {
        r["qid"]: r.asDict()
        for r in similarity.retrieval_ndcg(_emb(spark, rows)).collect()
    }[1]
    assert q1["dcg_scaled"] == 1 * disc[0] + 3 * disc[1]
    assert q1["idcg_scaled"] == 3 * disc[0] + 1 * disc[1]
    assert 0 < q1["ndcg_at_k"] < 1.0


def test_ndcg_validates_k(spark):
    with pytest.raises(ValueError, match="k must be"):
        similarity.retrieval_ndcg(_emb(spark, [(1, [1.0], 1)]), k=0)
