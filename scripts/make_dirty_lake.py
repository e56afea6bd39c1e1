#!/usr/bin/env python3
"""Build the DIRTY differential lake: sf0.001 with deterministic dirt
injected into the text-bearing tables — the input classes the
pristine driver fixtures never exercise (zero nulls, zero blanks,
zero non-ASCII in every sf* table, measured 2026-08-15):

- documents.text: ~8% NULL, ~6% empty/whitespace-only, ~10% suffixed
  with non-ASCII tokens (accented Latin, CJK, emoji), ~6% with messy
  internal whitespace (tabs/newlines/runs of spaces), ~2%
  Unicode-whitespace-ONLY (NBSP/thin-space/ideographic-space: blank
  under Python str.strip(), NON-blank under JVM/RE2 \\s — the ADVICE
  r8 divergence class; the engine pins blank to ASCII whitespace, so
  these rows must flow through every text operator as non-blank),
  ~10% given sentence terminators (every other lake text has none,
  so no other document reaches the sentence-unit path): runs of
  '.', '!' and '?', a leading terminator run, sentences that start
  with digits, NBSP on both sides of a terminator, and a tail with
  no terminator;
- documents.lang: ~5% NULL;
- events.value: ~7% NULL (SQL null-skipping aggregate semantics);
- events.event_type: ~4% NULL (group keys: NULL is its own group in
  GROUP BY on both engines);
- events.user_id: ~3% NULL (per-user windows/sessions: NULL is one
  partition on both engines — anonymous traffic must not crash or
  silently vanish from per-user operators);
- events.props: ~2% malformed JSON ('{broken'), ~2% type-mismatched
  field ('{"k": "oops"}'), ~1% NULL — one bad log line must not abort
  a whole variant-path aggregation (events_variant_agg originally used
  FAILFAST parse_json + strict variant_get and died on the first one;
  measured, then fixed to the try_ forms).

events.ts stays clean BY CONTRACT: event time is the one required
field of an event stream (a null-ts event is a producer bug the
expectations suite catches), and Spark orders NULLS FIRST where
DuckDB orders NULLS LAST, so null event time has no portable
window semantics to pin.

Dirt is keyed on xxhash-free arithmetic (doc_id/event_id mod primes)
so the lake is bit-reproducible without a seed file. Embeddings stay
clean by decision: the engine's vector columns are non-null by schema
contract (TESTDATA.md), and a NULL embedding is a producer bug the
expectations suite (data_expectations) exists to catch, not an input
the similarity operators should silently tolerate.

Usage: python scripts/make_dirty_lake.py [out_dir]
Then:  SPARK_GRAFT_TEST_SF=<out_dir> python -m pytest tests/test_oracle_parity.py
— every documents/events-reading key runs its Spark plan AND its
DuckDB oracle over the dirty tables; a mismatch is a real
null/unicode semantics divergence between the engine and ANSI SQL.
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

BASE = "/root/testdata/sf0.001"

# appended to ~10% of texts: accents, CJK, emoji, and a right-to-left
# word — lower()/md5/substring-safe on both engines (no Turkish İ-class
# collation traps: the point is OUR operators' unicode handling, not
# utf8proc-vs-java locale folklore)
UNICODE_TAILS = [
    "café naïve résumé",
    "漢字テスト 文書",
    "emoji \U0001f600\U0001f680 tail",
    "שלום world",
    "über straße grüß",
]


def build(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    tails = "[" + ", ".join(f"'{t}'" for t in UNICODE_TAILS) + "]"

    for t in (
        "region nation customer supplier part orders lineitem embeddings"
    ).split():
        shutil.copy(f"{BASE}/{t}.parquet", f"{out_dir}/{t}.parquet")

    con.sql(
        f"""
        COPY (
          SELECT doc_id,
                 CASE
                   WHEN doc_id % 13 = 3 THEN NULL
                   WHEN doc_id % 17 = 5 THEN ''
                   WHEN doc_id % 17 = 8 THEN '   \t  '
                   -- NBSP + thin space + ASCII space + ideographic
                   -- space: Unicode-whitespace-only text
                   WHEN doc_id % 53 = 21 THEN
                     chr(160) || chr(8201) || ' ' || chr(12288)
                   WHEN doc_id % 11 = 2 THEN
                     text || ' ' || {tails}[(doc_id % 5)::INT + 1]
                   WHEN doc_id % 19 = 7 THEN
                     replace(replace(text, ' the ', '  the\t'), ' and ',
                             concat(chr(10), 'and  '))
                   WHEN doc_id % 7 = 4 THEN
                     '?! ' || array_to_string(list_transform(
                       string_split(text, ' '), (w, i) -> CASE i % 11
                         WHEN 0 THEN w || '...'
                         WHEN 4 THEN w || chr(160) || '!?' || chr(160)
                         WHEN 7 THEN w || '. ' || (i * 7)::VARCHAR
                         ELSE w END), ' ') || ' no terminator here'
                   ELSE text
                 END AS text,
                 CASE WHEN doc_id % 23 = 11 THEN NULL ELSE lang END AS lang,
                 source, n_chars
          FROM '{BASE}/documents.parquet'
        ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.sql(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN event_id % 29 = 13 THEN NULL ELSE value END AS value,
            CASE WHEN event_id % 31 = 17 THEN NULL ELSE event_type END
              AS event_type,
            CASE WHEN event_id % 37 = 19 THEN NULL ELSE user_id END
              AS user_id,
            CASE WHEN event_id % 41 = 7 THEN '{{broken'
                 WHEN event_id % 43 = 11 THEN '{{"k": "oops"}}'
                 WHEN event_id % 47 = 13 THEN NULL
                 ELSE props END AS props)
          FROM '{BASE}/events.parquet'
        ) TO '{out_dir}/events.parquet' (FORMAT PARQUET)
        """
    )
    stats = con.sql(
        f"""
        SELECT sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
               sum(CASE WHEN text IS NOT NULL AND len(trim(text))=0
                   THEN 1 ELSE 0 END),
               sum(CASE WHEN regexp_matches(coalesce(text,''),
                   '[^\\x00-\\x7F]') THEN 1 ELSE 0 END),
               sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
               sum(CASE WHEN regexp_matches(coalesce(text, ''), '[.!?]')
                   THEN 1 ELSE 0 END)
        FROM '{out_dir}/documents.parquet'
        """
    ).fetchone()
    print(
        f"documents dirt: null_text={stats[0]} blank={stats[1]} "
        f"non_ascii={stats[2]} null_lang={stats[3]} terminated={stats[4]}"
    )


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else "/tmp/dirty_lake")
