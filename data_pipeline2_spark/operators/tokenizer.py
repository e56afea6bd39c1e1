"""Real byte-pair-encoding subword tokenizer — train + apply.

The reference delegates token counting to docling's HF tokenizer
(doc_pipeline/services/docling_service.py:212-236, model
BAAI/bge-small-en-v1.5 per config/settings.py:50); the engine's
chunkers use a deterministic estimator plus an injection seam. This
module supplies the third option: an actual BPE learned FROM the
corpus, no external model file.

Scale shape (the standard two-phase tokenizer pattern):
- `bpe_train` is driver-side on a BOUNDED word-frequency table — the
  distributed part is one groupBy over exploded words (shuffle =
  distinct words, not text), then the merge loop runs over at most
  `max_words` (freq, word) pairs in numpy-free pure Python: the same
  train-on-aggregates economics as the IVF/PQ fits (Sennrich et al.
  2016 — the algorithm is public).
- `bpe_tokenize` broadcasts the merge ranks (a dict of string pairs —
  KBs) and applies them per Arrow batch via mapInPandas: map-only over
  the corpus, no shuffle.

Correctness gate: BPE merges only ever CONCATENATE adjacent pieces of
the original word, so ''.join(tokens of word) == word exactly — the
`reconstructed_ok` invariant a SQL oracle can assert as constant true
while the merge table itself stays non-SQL-replayable.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline2_spark.operators.textanalysis import (
    _positions,
    _term_counts,
    _terms,
    _train_held,
)
from data_pipeline2_spark.plans.materialize import materialize

# ASCII whitespace ONLY — matching Spark's Java \s (the `_terms` split)
# and the DuckDB oracle's RE2 \s exactly; Python's Unicode-aware \S
# would split on U+00A0 etc. where the other two engines do not.
_WORD_RE = re.compile(r"[^ \t\n\r\f\v]+")
# End-of-word sentinel: a space can never appear inside a \\S+ word,
# so it is unambiguous; merges keep it as the suffix of the final
# piece.
END = " "
_TOKENIZE_SCHEMA = (
    "doc_id long, n_words long, n_word_chars long, n_tokens long, "
    "reconstructed_ok boolean, max_token_chars int"
)


def _words(text: str) -> list[str]:
    return _WORD_RE.findall(text.lower())


def _word_table(documents: DataFrame, text_col: str) -> DataFrame:
    """(term, c) count table of the documents' non-empty lowercased
    whitespace tokens (`_terms`; the empty token a leading tab leaves
    carries no characters and is dropped)."""
    return _term_counts(
        _terms(documents, text_col).filter(F.length("term") > 0)
    )


def _word_counts(
    documents: DataFrame, text_col: str, max_words: int
) -> list[tuple[str, int]]:
    """The `max_words` most frequent words as (word, count), ties by
    word — the bounded driver artifact the BPE and unigram-LM fits
    train on."""
    rows = (
        _word_table(documents, text_col)
        .orderBy(F.desc("c"), F.col("term"))
        .limit(max_words)
        .collect()
    )
    return [(r["term"], int(r["c"])) for r in rows]


def bpe_train(
    documents: DataFrame,
    n_merges: int = 200,
    max_words: int = 20000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges from the corpus word-frequency table.

    → ordered merge list [(left, right), ...] (rank = position).
    The frequency table is capped at the `max_words` most frequent
    words (deterministic ties by word) — the bounded driver artifact.
    """
    vocab = {}
    for w, n in _word_counts(documents, text_col, max_words):
        pieces = tuple(w.replace(END, "")) + (END,)
        if len(pieces) > 1:
            vocab[pieces] = vocab.get(pieces, 0) + n
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_freq: dict[tuple[str, str], int] = {}
        for pieces, n in vocab.items():
            for a, b in zip(pieces, pieces[1:]):
                pair_freq[(a, b)] = pair_freq.get((a, b), 0) + n
        if not pair_freq:
            break
        # deterministic: max frequency, ties by lexicographic pair
        best = max(pair_freq.items(), key=lambda kv: (kv[1], kv[0]))[0]
        if pair_freq[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for pieces, n in vocab.items():
            out, i = [], 0
            while i < len(pieces):
                if (
                    i + 1 < len(pieces)
                    and pieces[i] == best[0]
                    and pieces[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(pieces[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def _apply_merges(word: str, ranks: dict) -> list[str]:
    pieces = list(word) + [END]
    while len(pieces) > 1:
        best_rank, best_i = None, None
        for i, (a, b) in enumerate(zip(pieces, pieces[1:])):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        pieces[best_i : best_i + 2] = [pieces[best_i] + pieces[best_i + 1]]
    if pieces and pieces[-1] == END:
        pieces = pieces[:-1]
    elif pieces and pieces[-1].endswith(END):
        pieces[-1] = pieces[-1][: -len(END)]
    return [p for p in pieces if p]


def bpe_tokenize_stats(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize every document with the learned merges and reduce to
    driver-hashable invariants → (doc_id, n_words, n_word_chars,
    n_tokens, reconstructed_ok, max_token_chars).

    `reconstructed_ok`: for every word, ''.join(its tokens) == the
    normalized word — BPE merges can only concatenate, so any slicing /
    rank-ordering / sentinel bug breaks equality. `n_tokens <= total
    chars` and `n_tokens >= n_words` hold by construction and are
    enforced downstream by the oracle-checkable booleans in the
    registry query.
    """
    ranks = {pair: i for i, pair in enumerate(merges)}

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["__text"]):
                words = _words(text or "")
                n_tok = 0
                ok = True
                longest = 0
                n_chars = 0
                for w in words:
                    n_chars += len(w)
                    toks = _apply_merges(w, ranks)
                    n_tok += len(toks)
                    if "".join(toks) != w:
                        ok = False
                    for t in toks:
                        longest = max(longest, len(t))
                rows.append(
                    (int(did), len(words), n_chars, n_tok, ok, longest)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_words", "n_word_chars", "n_tokens",
                    "reconstructed_ok", "max_token_chars",
                ],
            )

    return documents.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).cast("string").alias("__text"),
    ).mapInPandas(stats, _TOKENIZE_SCHEMA)


def _held_word_stats(
    documents: DataFrame,
    match: Callable[[str], tuple],
    checksum: str,
    extra: tuple[str, ...] = (),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every word of the HELD-OUT half (odd pmod residues, the
    `_train_held` split) with `match` → (doc_id, n_words, n_unk_words,
    n_pieces, *extra, <checksum>).

    `match(word)` → (n_pieces, is_unk, word_checksum, *extra values);
    each `extra` column is the per-doc sum of its value, and
    <checksum> = Σ over words of (word_checksum · word_position) mod
    2^32 with 1-based positions — position-weighted, so WHICH pieces
    fired and in WHAT order is pinned end-to-end, not just the counts.

    Scale shape: `match` runs once per DISTINCT scored word (one
    distinct exchange, vocabulary-bounded) inside an Arrow-batched
    mapInPandas, the per-word stats broadcast-join back onto the
    `_positions` word stream, and ONE doc_id aggregation closes —
    document text never carries a Python round-trip, the corpus-sized
    path is pure Catalyst. Scored docs with no words emit an all-zero
    row.
    """
    _, held = _train_held(documents, text_col, id_col)
    words = _positions(held, text_col, id_col).select(
        "doc_id",
        (F.col("p") + 1).cast("long").alias("p"),
        F.col("term").alias("w"),
    )
    cols = ["w", "n_pieces", "unk", "wcksum", *extra]

    def match_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [(w, *match(w)) for w in pdf["w"]], columns=cols
            )

    per_word = words.select("w").distinct().mapInPandas(
        match_batches,
        "w string, n_pieces int, unk boolean, wcksum long"
        + "".join(f", {c} long" for c in extra),
    )
    sums = ("n_words", "n_unk_words", "n_pieces", *extra, checksum)
    per_doc = (
        words.join(F.broadcast(per_word), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.col("unk").cast("long")).alias("n_unk_words"),
            F.sum("n_pieces").alias("n_pieces"),
            *[F.sum(c).alias(c) for c in extra],
            F.sum(
                F.pmod(F.col("wcksum") * F.col("p"), F.lit(4_294_967_296))
            ).alias(checksum),
        )
    )
    return (
        held.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in sums],
        )
    )


# ------------------------------------------------------------- WordPiece
# (Wu et al. 2016 §4.1 / BERT's tokenization.py — the algorithm is
# public): greedy longest-match-first against a piece vocabulary, word
# -> [UNK] when any position has no matching piece or the word exceeds
# the char cap. Unlike the BPE pair above, the vocab here derives
# DETERMINISTICALLY from corpus aggregates (frequent whole words /
# prefixes / suffixes + full char coverage), so the DuckDB oracle
# replays the ENTIRE tokenization — fit and apply — as SQL.

WP_MIN_COUNT = 5
WP_MAX_PIECE = 8   # piece body cap: keeps the oracle's match join equi
WP_MAX_WORD = 16   # BERT's max_input_chars_per_word analog; longer -> UNK
WP_UNK = "[UNK]"


def wordpiece_vocab(
    documents: DataFrame,
    min_count: int = WP_MIN_COUNT,
    max_piece: int = WP_MAX_PIECE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[frozenset, frozenset]:
    """Derive the WordPiece vocabulary from the TRAIN half of the corpus
    (even pmod(doc_id, 2) residues — the `_train_held` split) →
    (word-initial piece set, continuation piece set).

    Pieces (all lowercased, bodies <= max_piece chars):
      initial:      whole words and word PREFIXES with summed train
                    count >= min_count, plus every single char seen
                    (full coverage — a held-out word UNKs only on a
                    char the train split never produced)
      continuation: word SUFFIXES with summed count >= min_count, plus
                    every single char (stored WITHOUT the '##' marker;
                    the marker is presentation, applied at checksum
                    time)

    Scale shape: one word-count aggregation over the train split (the
    only corpus-sized exchange), then prefix/suffix/char derivation is
    map-side over the vocabulary-bounded count table; the collected
    result is the piece sets — the bounded driver artifact, exactly
    bpe_train's economics.
    """
    train, _ = _train_held(documents, text_col, id_col)
    # empty-string tokens (the split artifact on tab-only text) carry
    # no pieces — and F.sequence(1, 0) would walk DESCENDING and inject
    # '' into the char sets where the oracle's generate_series(1, 0)
    # is empty; `_word_table` drops them
    wc = (
        _word_table(train, text_col)
        .select(F.col("term").alias("w"), "c")
        .transform(materialize)
    )
    ln = F.length("w")
    whole = wc.filter(
        (F.col("c") >= min_count) & (ln <= max_piece)
    ).select(F.col("w").alias("body"), F.lit("init").alias("kind"))
    j = F.explode(
        F.sequence(F.lit(2), F.least(F.lit(max_piece), ln - 1))
    ).alias("j")
    affix_base = wc.filter(ln >= 3).select("w", "c", j)
    pref = (
        affix_base.select(F.expr("substring(w, 1, j)").alias("body"), "c")
        .groupBy("body")
        .agg(F.sum("c").alias("sc"))
        .filter(F.col("sc") >= min_count)
        .select("body", F.lit("init").alias("kind"))
    )
    suf = (
        affix_base.select(
            F.expr("substring(w, length(w) - j + 1, j)").alias("body"), "c"
        )
        .groupBy("body")
        .agg(F.sum("c").alias("sc"))
        .filter(F.col("sc") >= min_count)
        .select("body", F.lit("cont").alias("kind"))
    )
    chars = (
        wc.select(
            F.explode(F.sequence(F.lit(1), ln)).alias("i"), "w"
        )
        .select(F.expr("substring(w, i, 1)").alias("body"))
        .distinct()
    )
    pieces = (
        whole.unionByName(pref)
        .unionByName(suf)
        .unionByName(chars.select("body", F.lit("init").alias("kind")))
        .unionByName(chars.select("body", F.lit("cont").alias("kind")))
        .distinct()
        .collect()
    )
    init = frozenset(r["body"] for r in pieces if r["kind"] == "init")
    cont = frozenset(r["body"] for r in pieces if r["kind"] == "cont")
    return init, cont


def _wp_match(
    word: str, init: frozenset, cont: frozenset, max_piece: int, max_word: int
) -> tuple[int, bool, int]:
    """Greedy longest-match-first → (n_pieces, is_unk, word_checksum).

    checksum = (Σ over pieces of (md5_60(piece_repr) mod 2^32) ·
    piece_position) mod 2^32, piece_repr carrying the '##' continuation
    marker; UNK words checksum as the single [UNK] piece. The closing
    mod 2^32 reduction keeps the downstream position multiply
    (wcksum · p, wordpiece_tokenize_stats) well inside int64 for any
    document below 2^31 words — without it an un-reduced ~2^39 sum
    times a large position silently wraps in Spark but raises in
    DuckDB (ADVICE r9). The reduction commutes with the per-position
    pmod, so emitted checksums are unchanged.
    """
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2**32

    if len(word) > max_word or not word:
        return 1, True, h32(WP_UNK)
    pos, n, cksum = 0, 0, 0
    while pos < len(word):
        vocab = init if pos == 0 else cont
        for ln in range(min(max_piece, len(word) - pos), 0, -1):
            body = word[pos : pos + ln]
            if body in vocab:
                n += 1
                rep = body if pos == 0 else "##" + body
                cksum += h32(rep) * n
                pos += ln
                break
        else:
            return 1, True, h32(WP_UNK)
    return n, False, cksum % 2**32


def wordpiece_tokenize_stats(
    documents: DataFrame,
    init: frozenset,
    cont: frozenset,
    max_piece: int = WP_MAX_PIECE,
    max_word: int = WP_MAX_WORD,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the HELD-OUT half of the corpus (odd pmod residues) with
    the train-derived piece sets → (doc_id, n_words, n_unk_words,
    n_pieces, wp_checksum).

    wp_checksum = Σ over words of (word_checksum · word_position) mod
    2^32 — position-weighted at both levels, so WHICH pieces fired and
    in WHAT order is pinned end-to-end, not just the counts.

    Scale shape: `_held_word_stats` — the greedy matcher runs once per
    DISTINCT scored word, then one doc_id rollup. Blank scored docs
    emit an all-zero row.
    """
    return _held_word_stats(
        documents,
        lambda w: _wp_match(w, init, cont, max_piece, max_word),
        "wp_checksum",
        id_col=id_col,
        text_col=text_col,
    )


# ------------------------------------------------------- unigram LM
# (Kudo 2018, "Subword Regularization" — the SentencePiece unigram
# model; the algorithm is public). Completes the tokenizer triad: BPE
# (merge ranks), WordPiece (greedy longest-match), unigram LM (Viterbi
# over piece log-probabilities). All scores are floor-integerized
# BIGINTs so the Viterbi max is exact and engine-portable.

ULM_MAX_PIECE = 4   # piece length cap: bounds the oracle's candidates
ULM_MAX_WORD = 12   # words past this are UNK (the BERT-style cap)
ULM_MAX_WORDS = 20000  # fit cap on the word-frequency table (bpe_train)


def _ulm_viterbi(
    word: str, scores: dict, max_piece: int = ULM_MAX_PIECE
) -> list | None:
    """Exact-integer Viterbi segmentation → piece list, or None when
    some position is unreachable. dp[j] = max over i in [j-max_piece,
    j-1] of dp[i] + score(word[i:j]); ties prefer the SMALLEST i
    (longest final piece) — the pinned rule the SQL replay's
    row_number(ORDER BY score DESC, i ASC) mirrors."""
    L = len(word)
    dp: list = [None] * (L + 1)
    bp: list = [None] * (L + 1)
    dp[0] = 0
    for j in range(1, L + 1):
        best = None
        for i in range(max(0, j - max_piece), j):
            if dp[i] is None:
                continue
            s = scores.get(word[i:j])
            if s is None:
                continue
            cand = dp[i] + s
            if best is None or cand > best[0]:
                best = (cand, i)
        if best is not None:
            dp[j], bp[j] = best
    if dp[L] is None:
        return None
    pieces, j = [], L
    while j > 0:
        i = bp[j]
        pieces.append(word[i:j])
        j = i
    pieces.reverse()
    return pieces


def unigram_lm_fit(
    documents: DataFrame,
    max_words: int = ULM_MAX_WORDS,
    max_piece: int = ULM_MAX_PIECE,
    max_word: int = ULM_MAX_WORD,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Fit the unigram-LM piece scores on the TRAIN half (even pmod
    residues) → {piece: integerized log-prob}.

    Kudo's pipeline with ONE EM round, every step deterministic and
    SQL-replayable (the kmeans-trajectory discipline):
      1. seed pieces = ALL substrings (len <= max_piece) of the capped
         word-frequency table, weighted by word count; seed scores =
         floor(ln(count/total)·1e10);
      2. E-step: Viterbi-segment each capped train word (len <=
         max_word) under the seed scores;
      3. M-step with add-one smoothing over the FULL seed piece set
         (no piece drops, no special cases): cnt1 = uses + 1, final
         score = floor(ln(cnt1/total1)·1e10).

    The fit runs driver-side on the bounded (<= max_words) frequency
    table — bpe_train's economics; the distributed part is one word
    count aggregation.
    """
    import math

    train, _ = _train_held(documents, text_col, id_col)
    wc = _word_counts(train, text_col, max_words)
    sub: dict = {}
    for w, c in wc:
        for i in range(len(w)):
            for ln in range(1, min(max_piece, len(w) - i) + 1):
                p = w[i : i + ln]
                sub[p] = sub.get(p, 0) + c
    total0 = sum(sub.values())
    if total0 == 0:
        return {}
    s0 = {
        p: math.floor(math.log(cnt / total0) * _ULM_SCALE)
        for p, cnt in sub.items()
    }
    uses: dict = {}
    for w, c in wc:
        if len(w) > max_word:
            continue
        pieces = _ulm_viterbi(w, s0, max_piece)
        if pieces is None:  # impossible: single chars cover
            continue
        for p in pieces:
            uses[p] = uses.get(p, 0) + c
    cnt1 = {p: uses.get(p, 0) + 1 for p in sub}
    total1 = sum(cnt1.values())
    return {
        p: math.floor(math.log(cnt / total1) * _ULM_SCALE)
        for p, cnt in cnt1.items()
    }


_ULM_SCALE = 10_000_000_000


def unigram_lm_tokenize_stats(
    documents: DataFrame,
    scores: dict,
    max_piece: int = ULM_MAX_PIECE,
    max_word: int = ULM_MAX_WORD,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Viterbi-tokenize the HELD-OUT half (odd residues) under the
    fitted scores → (doc_id, n_words, n_unk_words, n_pieces,
    logprob_sum_scaled, ulm_checksum).

    A word is UNK when empty, past `max_word` chars, or unreachable
    (some char the train split never produced); UNK words count one
    piece, checksum as the [UNK] sentinel, and carry NO LM mass
    (logprob contribution 0 — they are out-of-model by definition).
    ulm_checksum = Σ over words of (word_checksum · position) mod 2^32
    with word_checksum = Σ (md5_32(piece) · piece_index) — the
    wordpiece_tokenize contract, pinning WHICH segmentation won.

    Scale shape: `_held_word_stats`, the skeleton wordpiece_tokenize_stats
    also runs — the Viterbi runs once per DISTINCT scored word with the
    score dict shipped in the closure, then one doc_id rollup with
    map-side partials.
    """
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 2**32

    unk32 = h32(WP_UNK)

    def segment(w: str) -> tuple[int, bool, int, int]:
        pieces = (
            _ulm_viterbi(w, scores, max_piece)
            if 0 < len(w) <= max_word
            else None
        )
        if pieces is None:
            return 1, True, unk32, 0
        # mod 2^32 per word (matches _wp_match): keeps the wcksum·p
        # position multiply inside int64 for any document below 2^31
        # words; commutes with the per-position pmod so values are
        # unchanged
        ck = sum(h32(p) * (k + 1) for k, p in enumerate(pieces)) % 2**32
        return len(pieces), False, ck, sum(scores[p] for p in pieces)

    return _held_word_stats(
        documents,
        segment,
        "ulm_checksum",
        extra=("logprob_sum_scaled",),
        id_col=id_col,
        text_col=text_col,
    )
