"""Text expression helpers shared by chunking / dedup / text-analysis.

All pure Catalyst expressions (JVM-side), plus the Python twins the
pandas/UDTF seams use. Tokenization is defined once here so every
operator (and its DuckDB oracle) agrees on word boundaries: split on
runs of whitespace after trim.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# the reference's sentence regex (docling_service.py:103), sans capture
# group: one or more non-terminators followed by one or more terminators.
SENTENCE_REGEX = r"[^.!?]+[.!?]+"
_SENTENCE_RE = re.compile(SENTENCE_REGEX)

# The engine's whitespace definition is ASCII everywhere: JVM regex \s
# ([ \t\n\x0B\f\r]) and RE2 \s in the DuckDB oracles are ASCII-only, so
# Python seams must not silently widen whitespace to Unicode (str.strip()
# / str.split() / re's default \s also cover \xa0,  , 　, ... —
# the ADVICE r8 divergence class). Every Python-side strip/split in an
# oracled operator pins to this set (or passes re.ASCII).
ASCII_WS = " \t\n\r\x0b\x0c"


def ascii_split(text: str) -> list[str]:
    """The non-empty tokens between runs of the engine's ASCII \\s
    (JVM/RE2 parity): str.split() would also split on \\xa0 and
    friends, which the JVM and the DuckDB oracles treat as word
    characters."""
    return [w for w in re.split(r"\s+", text, flags=re.ASCII) if w]


def sentence_end(text: str) -> int:
    """Index just past the text's last terminator (0 if it has none):
    where the last SENTENCE_REGEX match ends, when there is one."""
    return max(text.rfind(c) for c in ".!?") + 1


def split_sentences(text: str) -> list[str]:
    """`re.findall(SENTENCE_REGEX, text)` in linear time — the Python
    twin of `sentences` (same tail-cut rule, see there)."""
    return _SENTENCE_RE.findall(text, 0, sentence_end(text))


def tokens(text: Column) -> Column:
    """array<string> of whitespace-delimited tokens; [] for blank text."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def sentences(text: Column) -> Column:
    """array<string> of sentences per the reference regex; [] if none.

    The regex runs only on the prefix that ends at the text's last
    terminator; the terminator-free tail is found by a linear, anchored
    `^[^.!?]*` on the reversed text. Exact: every match ends on a
    terminator, so none reaches into the tail, and a start inside the
    tail can only fail. The cut is also what keeps the kernel linear:
    the tail is the one place the regex backtracks, because from each
    start position there `[^.!?]+` runs to the end of the text before
    failing — quadratic in the tail's length (one 100k-char document
    with no terminator: 47 s uncut, about 0.5 s cut, local[4])."""
    tail = F.regexp_extract(F.reverse(text), r"^[^.!?]*", 0)
    head = F.substring(text, F.lit(1), F.length(text) - F.length(tail))
    return F.regexp_extract_all(head, F.lit(SENTENCE_REGEX), 0)


def normalized(text: Column) -> Column:
    """Whitespace-collapsed, lowercased content — dedup/fingerprint key."""
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def content_hash(text: Column) -> Column:
    """sha256 hex of normalized content (exact-dedup key).

    The reference uses sha256 for its deterministic search-cache keys
    (search_cache.py:18-33); same primitive here.
    """
    return F.sha2(normalized(text), 256)


def word_ngrams(text: Column, n: int) -> Column:
    """array<string> of word n-gram shingles ('w1 w2 w3').

    Built by zipping the token array with its own n−1 shifted slices
    rather than transform-over-positions: zip_with evaluates each array
    argument ONCE per row, while the old per-position lambda captured
    `toks` (a split) and re-evaluated it for EVERY position —
    O(len²/doc), measured 6.3× slower at a 26M-shingle corpus
    (106 → 17 s; BENCH_NOTES round 9b). Output identical, including
    the <n-token empty-array contract."""
    toks = tokens(text)
    cnt = F.size(toks)
    z = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(cnt - k, F.lit(0)))
        z = F.zip_with(z, shifted, lambda x, y: F.concat_ws(" ", x, y))
    out = F.slice(z, 1, F.greatest(cnt - (n - 1), F.lit(0)))
    return F.when(cnt < n, F.array().cast("array<string>")).otherwise(out)


def array_pairs(arr: Column, a_name: str = "a", b_name: str = "b") -> Column:
    """All (arr[i], arr[j]) struct pairs with i < j, generated INSIDE
    the row — the map-side combinator behind market-basket pair mining
    and cross-source shingle overlap (no self-join, no extra shuffle).
    Pass a sorted array to get pairs ordered a < b."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )
