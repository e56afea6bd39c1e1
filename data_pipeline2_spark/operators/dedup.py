"""Deduplication operators — exact and near-dup at 100 TB scale.

Not in the reference (its idempotency is deterministic ES _id overwrite,
vector_storage.py:65); mandated by the mission north star. These are the
operators a training-data pipeline runs over the whole corpus, so every
design choice is shuffle-minimal:

- exact dedup: one hash-groupBy on a 64-hex key — the cheapest possible
  full-corpus shuffle (key is tiny and uniform, no skew);
- MinHash LSH: per-doc signatures are map-side (explode + min-agg
  partitioned by doc), candidate generation is an equi-join on band
  buckets (shuffles signatures, ~100 bytes/doc — NOT documents), and
  only candidate pairs (tiny) are verified exactly;
- OUTPUT-SEMANTIC hashes (anything that appears in a result or drives
  a selection the oracle replays — minhash signatures, winnow
  fingerprints, simhash terms) are md5/sha2 of explicit strings plus
  exact signed-64 integer arithmetic, engine-portable and
  deterministic, so the DuckDB oracle reproduces them exactly.
  INTERNAL fingerprints whose only role is equality bucketing (the
  exact-substring window hash) may use engine-native functions
  (xxhash64) — the oracle keeps its own bucketing and compares the
  final output instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline2_spark.functions.text import content_hash, tokens
from data_pipeline2_spark.plans.partitioning import ensure_parallelism
from data_pipeline2_spark.plans.materialize import materialize, materialize_lazy

N_PERM = 16
# 8 bands x 2 rows: the LSH S-curve midpoint is ~(1/b)^(1/r) = 0.35,
# giving ~90% candidate recall at the operator's default jaccard
# threshold 0.5 (the former 4x4 banding had its midpoint at 0.71 —
# only ~23% recall at 0.5; near-dup pairs at the design threshold were
# mostly luck). The extra false candidates this admits are bounded by
# the exact-Jaccard verify, which only ever touches candidate pairs.
BAND_SIZE = 2

# Universal-hash minhash family (Broder/Carter-Wegman): h_j(x) =
# (a_j * x + b_j) mod P over a 60-bit shingle fingerprint x. P = 2^31-1
# (Mersenne prime) keeps a_j * x < 2^62, so the arithmetic is exact
# signed-64-bit in BOTH engines (Spark long and DuckDB BIGINT never
# overflow, no wrap-semantics divergence). One md5 per shingle replaces
# the former ceil(n_perm/4) digests — hashing dominated the map side of
# corpus-scale minhash (VERDICT r3 item 5), and the signature/verify
# shuffles now carry 8-byte longs instead of hex strings.
MINHASH_P = (1 << 31) - 1


def minhash_coeffs(n_perm: int = N_PERM) -> tuple[list[int], list[int]]:
    """Deterministic (a_j, b_j) coefficient tables for the family above,
    from a fixed-seed 64-bit LCG (Knuth MMIX constants) — pure Python,
    so the DuckDB oracle embeds the identical literals."""
    a, b = [], []
    s = 0x9E3779B97F4A7C15
    for _ in range(n_perm):
        s = (s * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        a.append(s % (MINHASH_P - 1) + 1)
        s = (s * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        b.append(s % MINHASH_P)
    return a, b


def shingle_hash64(col: Column) -> Column:
    """60-bit integer shingle fingerprint: the first 15 hex chars of
    md5, base-16-decoded. Engine-portable (DuckDB replays it as
    CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)) and always
    non-negative, so mod arithmetic agrees across engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def dedup_exact(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by normalized-content sha256.

    → (content_sha, keep_id, dup_count): keeper = min doc id. Filtering
    the corpus = semi-join on (content_sha, keep_id) or dropDuplicates.
    NULL-text rows are excluded (sha2(NULL) is NULL — grouping them
    would collapse unrelated null-text docs into one fake dup cluster).
    """
    return (
        documents.filter(F.col(text_col).isNotNull())
        .select(
            content_hash(F.col(text_col)).alias("content_sha"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("content_sha")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def dedup_exact_drop(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus with exact duplicates removed (keeper = min doc_id);
    NULL-text rows pass through untouched (they are not duplicates of
    each other)."""
    keep = dedup_exact(documents, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    kept = documents.filter(F.col(text_col).isNotNull()).join(
        keep, id_col, "left_semi"
    )
    return kept.unionByName(documents.filter(F.col(text_col).isNull()))


def doc_shingles(
    documents: DataFrame, shingle_n: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document → (doc_id, shingle), distinct
    by default (pass distinct=False for duplicate-invariant consumers
    like min-aggregation, skipping the dedup shuffle).

    Built MAP-ONLY over the in-row token array (r12, guide §2.4): a
    transform over window-start indices concatenates element_at slots,
    then one explode. The former posexplode + lead() windows needed a
    local SORT of every exploded token row before the n-gram assembly —
    a per-partition sort of corpus-token volume that pure in-row
    expressions never pay. Re-measured on Spark 4.1 the HOF path is
    ~2x FASTER at sf0.1 (0.108 vs 0.204 s median noop) — the r3-era
    "HOFs are 2x slower" measurement inverted — and the shingle stream
    is bit-identical (bit_xor(xxhash64(doc_id, shingle)) equality over
    the full corpus, re-pinned in test_dedup_similarity). Short docs
    (< shingle_n tokens) emit nothing, exactly as the lead-null filter
    did; the index sequence is gated on that bound because Spark's
    sequence(1, k) runs DESCENDING for k < 1.
    """
    documents = ensure_parallelism(documents, id_col)
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("__ws"),
    )
    idx = F.when(
        F.size("__ws") >= shingle_n,
        F.sequence(F.lit(1), F.size("__ws") - F.lit(shingle_n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("__ws"), i + j) for j in range(shingle_n)]
        ),
    )
    out = toks.select("doc_id", F.explode(grams).alias("shingle"))
    return out.distinct() if distinct else out


def shingle_fingerprints(
    documents: DataFrame, shingle_n: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """`doc_shingles` fingerprinted to 60-bit longs → (doc_id, sh64):
    the form every minhash-family shuffle carries (8-byte integers,
    never shingle strings; VERDICT r3 item 5). `distinct` passes
    through to doc_shingles and dedups the STRINGS before hashing."""
    return doc_shingles(
        documents, shingle_n, id_col, text_col, distinct
    ).select("doc_id", shingle_hash64(F.col("shingle")).alias("sh64"))


def minhash_signatures(
    shingles: DataFrame, n_perm: int = N_PERM
) -> DataFrame:
    """Long-format MinHash signature rows → (doc_id, perm, mh).

    Same hash family and values as `minhash_signature_cols` (which is
    the scale path); this unpivoted view exists for signature
    inspection / storage as a tall table.
    """
    wide = minhash_signature_cols(shingles, n_perm)
    structs = ", ".join(
        f"named_struct('perm', {p}, 'mh', mh_{p})" for p in range(n_perm)
    )
    return wide.selectExpr("doc_id", f"inline(array({structs}))")


def lsh_candidate_pairs(band_keys: DataFrame) -> DataFrame:
    """Distinct doc pairs sharing >= 1 band bucket → (doc_a, doc_b), a < b.

    Equi-join on (band, band_key): the shuffle moves ~32-byte keys, and
    matching buckets are tiny — the whole point of LSH at scale.
    """
    a = band_keys.select(
        F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    b = band_keys.select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _pair_shingle_sets(
    candidates: DataFrame, shingles: DataFrame
) -> DataFrame:
    """Candidate pairs with each side's shingle set → (doc_a, doc_b,
    __sh_a, n_a, __sh_b, n_b): the one verify shape of the minhash
    family (jaccard_pairs and containment_pairs project their score
    from it; `size(array_intersect(__sh_a, __sh_b))` is |A ∩ B|).
    Input `shingles` carries DISTINCT (doc_id, shingle) rows.

    Plan shape (reworked after the round-9b x100 run): the old form
    joined the shingle table twice — candidates⋈sh_a on doc, then that
    expansion⋈sh_b on (doc, shingle) — which AQE broadcasts at small
    scale but materializes as TWO shingle-table sort-merge shuffles
    once the sides outgrow the broadcast threshold (measured: the
    minhash pipeline's shuffle stepped superlinear, 257x for a 100x
    corpus). Now the shingle set packs into ONE sorted array per doc
    (a single doc-keyed aggregation, linear), and the pair relation
    joins that doc→array map twice on plain doc keys; the intersection
    is a map-side array_intersect over the pair rows. Every shuffle is
    either the linear per-doc pack or candidate-sized — nothing scales
    with corpus x candidates. A doc's array is bounded by its own
    shingle count (the same per-row bound the old expansion had in
    aggregate).
    """
    arrays = shingles.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("shingle")).alias("__sh"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    a = arrays.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__sh").alias("__sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = arrays.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__sh").alias("__sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    return candidates.join(a, "doc_a").join(b, "doc_b")


def jaccard_pairs(
    candidates: DataFrame, shingles: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs.

    → (doc_a, doc_b, jaccard) for pairs >= threshold, jaccard rounded
    for hash stability. Input `shingles` carries DISTINCT (doc_id,
    shingle) rows (every caller guarantees it); the plan is the
    candidate-bounded `_pair_shingle_sets` shape.
    """
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    return (
        _pair_shingle_sets(candidates, shingles)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter / (F.col("n_a") + F.col("n_b") - inter),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signature_cols(shingles: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """Wide-format MinHash: one row per doc, columns mh_0..mh_{n-1}
    (longs in [0, MINHASH_P)).

    Two scale properties:
    - n_perm min-aggregates in a SINGLE groupBy over the shingle rows —
      no n_perm x row explosion; map-side partial aggregation shrinks
      the shuffle to one ~n_perm x 8-byte row per document;
    - ONE md5 per shingle row (the 60-bit fingerprint, or none at all if
      the input already carries a precomputed `sh64` column), then
      n_perm codegen'd multiply-add-mod universal hashes — the former
      ceil(n_perm/4)-digest scheme spent ~4x the md5 work, and hashing
      dominates the map side of corpus-scale minhash (the swap took
      dedup_near_minhash from 2.83 s to ~1.7 s warm at sf0.1 — see
      BENCH_NOTES.md round 4).

    Integer min over (a_j*x+b_j) mod P is engine-exact: the DuckDB
    oracle embeds the same coefficient literals and replays it.

    py4j note (r11, the r10 simhash rule applied): the former
    Column-built agg list cost ~6 JVM calls x n_perm during DataFrame
    BUILD (~0.4 s at n_perm=16, ~1.3 s at 128, measured sf0.01) —
    now the n_perm min-aggregates assemble as ONE SQL string parsed
    once (array of aggregates), plus one selectExpr unpack; values
    bit-identical (equality re-pinned in test_dedup_similarity.py::
    test_minhash_string_build_matches_column_build). The expression
    text is engine-generated integer literals only.
    """
    a, b = minhash_coeffs(n_perm)
    x = (
        F.col("sh64")
        if "sh64" in shingles.columns
        else shingle_hash64(F.col("shingle"))
    )
    hashed = shingles.select("doc_id", (x % F.lit(MINHASH_P)).alias("__xm"))
    mins = ", ".join(
        f"min(({a[p]} * __xm + {b[p]}) % {MINHASH_P})" for p in range(n_perm)
    )
    packed = hashed.groupBy("doc_id").agg(
        F.expr(f"array({mins})").alias("__mhs")
    )
    return packed.selectExpr(
        "doc_id", *[f"__mhs[{p}] AS mh_{p}" for p in range(n_perm)]
    )


def lsh_band_keys_wide(
    wide: DataFrame, n_perm: int = N_PERM, band_size: int = BAND_SIZE
) -> DataFrame:
    """Band bucket keys from wide signatures → (doc_id, band, band_key).

    band_key = md5 of the band's signature values, cast to strings and
    comma-joined in perm order. Built as one SQL string (r11 py4j rule
    — the nested Column loop cost ~n_bands x band_size JVM calls per
    build).
    """
    n_bands = n_perm // band_size
    bands = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(
            f"cast(mh_{b * band_size + r} AS string)"
            for r in range(band_size)
        )
        + "))"
        for b in range(n_bands)
    )
    return wide.selectExpr(
        "doc_id", f"posexplode(array({bands})) AS (band, band_key)"
    )


def _lsh_candidates(
    fingerprints: DataFrame, n_perm: int = N_PERM, band_size: int = BAND_SIZE
) -> tuple[DataFrame, DataFrame]:
    """The minhash-family candidate stage: (doc_id, sh64) fingerprints
    → (sigs, cands), wide signatures and the distinct LSH candidate
    pairs (doc_a < doc_b), both materialized.

    - sigs (n_perm x 8 bytes per doc — the artifact a corpus-scale run
      persists anyway): the band-bucket self-join consumes them twice,
      and without the cut the whole shingle+hash pipeline re-executes
      for each join side (~2x the map work);
    - cands feeds three consumers (the candidate-id set and both verify
      join sides); eager localCheckpoint materializes it once and
      truncates lineage (O(candidate pairs) storage — unlike caching
      the full shingle set, tiny at any corpus size; cleaned by the
      ContextCleaner when the result DataFrame is released).
    """
    sigs = minhash_signature_cols(fingerprints, n_perm).transform(materialize)
    cands = lsh_candidate_pairs(
        lsh_band_keys_wide(sigs, n_perm, band_size)
    ).transform(materialize)
    return sigs, cands


def _candidate_ids(pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct doc ids appearing on either side of a (doc_a, doc_b)
    pair relation → (id_col)."""
    return (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )


def _candidate_fingerprints(
    documents: DataFrame, cands: DataFrame, shingle_n: int,
    id_col: str, text_col: str,
) -> DataFrame:
    """Distinct (doc_id, shingle) 60-bit fingerprints of the candidate
    documents only, materialized — the verify side of the minhash
    family. Candidates are orders of magnitude smaller than the corpus,
    so re-shingling that sliver touches almost nothing; the distinct
    runs on the fingerprints (string and fingerprint sets agree up to
    a ~n_shingles^2 / 2^60 collision probability per doc pair, and the
    oracle replays the same fingerprints).

    PIN the broadcast: candidates << corpus is this stage's design
    assumption, but post-checkpoint stats made AQE sort-merge this
    semi-join at x100 — shuffling the ENTIRE documents table to pick
    out the candidate docs (measured 165 MB of a 188 MB stage; the id
    set itself was ~1 MB). With the hint the corpus never moves.
    """
    cand_docs = documents.join(
        F.broadcast(_candidate_ids(cands, id_col)), id_col, "left_semi"
    )
    return (
        shingle_fingerprints(cand_docs, shingle_n, id_col, text_col, distinct=False)
        .withColumnRenamed("sh64", "shingle")
        .distinct()
        .transform(materialize)
    )


def dedup_near_minhash(
    documents: DataFrame,
    shingle_n: int = 3,
    n_perm: int = N_PERM,
    band_size: int = BAND_SIZE,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash (wide) → LSH bucket
    join → exact Jaccard verify. → (doc_a, doc_b, jaccard).

    Three scale tricks:
    - signatures consume NON-distinct shingles (min-aggregation is
      duplicate-invariant), skipping a full-corpus distinct shuffle;
    - shingles are fingerprinted to 60-bit longs ONCE
      (shingle_fingerprints), so both the signature aggregation and the
      Jaccard verify shuffle 8-byte integers, never shingle strings;
    - the Jaccard verify re-derives distinct shingle hashes only for
      the candidate documents (`_candidate_fingerprints`).
    """
    _, cands = _lsh_candidates(
        shingle_fingerprints(documents, shingle_n, id_col, text_col, distinct=False),
        n_perm, band_size,
    )
    sh_cand = _candidate_fingerprints(documents, cands, shingle_n, id_col, text_col)
    return jaccard_pairs(cands, sh_cand, threshold)


def bbit_minhash_pairs(
    documents: DataFrame,
    shingle_n: int = 3,
    n_perm: int = N_PERM,
    band_size: int = BAND_SIZE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """b-bit minwise hashing (Li & König 2010, "b-Bit Minwise
    Hashing", WWW — b=1) with an exact-verify audit → one row per LSH
    candidate pair: (doc_a, doc_b, n_match_bits, j_bbit, jaccard,
    est_err).

    The storage-scale path of the minhash family: keeping only the
    LOWEST BIT of each of the n_perm minima shrinks the signature
    store 64× (16 perms × 8 B = 128 B/doc → 2 B/doc — at a 10⁹-doc
    corpus that is a 128 GB store collapsing to 2 GB, the difference
    between "ships with every probe" and "lives on one node"). The
    published estimator for b=1 and a large hash universe:
    E[match fraction P] = J + (1−J)/2, so Ĵ = 2·P̂ − 1 (clamped at
    0) — with n_perm=16 the match count m is an exact integer, Ĵ is
    an exact multiple of 1/8, and ONE closing float enters per pair.

    This is the cms_frequency_eval/lsh_eval pattern: the sketch
    estimate and the exact answer ship side by side (est_err =
    |jaccard − Ĵ|), so the key is self-measuring — the oracle replays
    sketch AND truth, and a green row value-checks the estimator's
    error surface, not just its happy path. Candidates come from the
    SAME full-signature LSH banding dedup_near_minhash uses (b-bit
    signatures estimate; banding keeps its full-width keys — the
    paper's deployment split).

    Scale shape: identical to dedup_near_minhash through signatures
    and banding (one groupBy, 8-byte fingerprints); the b-bit match
    join ships n_perm BITS per doc; the exact verify is
    candidate-bounded (array-pack Jaccard).
    """
    sigs, cands = _lsh_candidates(
        shingle_fingerprints(documents, shingle_n, id_col, text_col, distinct=False),
        n_perm, band_size,
    )
    # b-bit projections and the match-bit fold as SQL strings (r11
    # py4j rule): one parse each instead of ~5 JVM calls per perm
    a = sigs.selectExpr(
        "doc_id AS doc_a",
        *[f"cast((mh_{p} % 2) AS int) AS ba_{p}" for p in range(n_perm)],
    )
    b = sigs.selectExpr(
        "doc_id AS doc_b",
        *[f"cast((mh_{p} % 2) AS int) AS bb_{p}" for p in range(n_perm)],
    )
    mexpr = " + ".join(
        f"cast((ba_{p} = bb_{p}) AS long)" for p in range(n_perm)
    )
    est = cands.join(a, "doc_a").join(b, "doc_b").selectExpr(
        "doc_a", "doc_b", f"({mexpr}) AS n_match_bits"
    )
    j_bbit = F.round(
        F.greatest(
            F.lit(0.0),
            F.lit(2) * F.col("n_match_bits") / F.lit(float(n_perm)) - 1,
        ),
        6,
    )
    sh_cand = _candidate_fingerprints(documents, cands, shingle_n, id_col, text_col)
    exact = jaccard_pairs(cands, sh_cand, threshold=0.0)
    out = est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "n_match_bits",
        j_bbit.alias("j_bbit"),
        "jaccard",
        F.round(F.abs(F.col("jaccard") - j_bbit), 6).alias("est_err"),
    )
    return out


def dedup_ngram_jaccard(
    documents: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs → (doc_a, doc_b, jaccard).

    Ground-truth variant of dedup_near_minhash: candidates = every doc
    pair sharing >= 1 shingle (inverted-index self-join on the shingle
    key), then the same exact Jaccard verify. Candidate generation is
    quadratic in per-shingle document frequency, so at lake scale pass
    max_df to skip ultra-common shingles when generating candidates —
    verification still scores with ALL shingles, so reported jaccard
    values stay exact; only a pair whose every shared shingle exceeds
    max_df can be missed — or use dedup_near_minhash, whose candidate
    cost is O(corpus) regardless of shingle frequency. This operator
    doubles as the recall oracle for the LSH path in tests.
    """
    # one consumer for candidates (x2 join sides) + three inside
    # jaccard_pairs: materialize the distinct shingle set once
    sh = doc_shingles(documents, shingle_n, id_col, text_col).transform(
        materialize
    )
    cand_src = sh
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        cand_src = sh.join(rare, "shingle")
    a = cand_src.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = cand_src.select(F.col("doc_id").alias("doc_b"), "shingle")
    cands = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return jaccard_pairs(cands, sh, threshold)


def simhash64(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document from token md5s → (doc_id, simhash).

    Bit b of the fingerprint is the majority of bit b over the doc's
    token md5s (equivalently Charikar's sign-of-±1-sum: 2·count_b > n);
    the 64 bits come from two 32-bit halves of the digest
    (conv(hex,16,10) keeps it JVM-side). Near-dup = hamming distance on
    the result. Uses the canonical tokens() (blank documents yield no
    tokens and are excluded, rather than all colliding on md5('')).

    The per-position counts accumulate PACKED: two 32-bit lanes per
    long, 32 packed sum columns instead of 64 — lanes cannot carry into
    each other below 2^32 tokens/doc, and the majority test unpacks
    each lane after aggregation. Bit-identical to the naive 64-column
    ±1 formulation (equality pinned in test_dedup_similarity; the
    registry oracles independently replay the unpacked majority rule),
    but the aggregate schema is half the width and the per-row
    projection a quarter the expressions — measured 0.6× the wall of
    the 64-column form at sf0.1 (BENCH_NOTES round 9b), where Catalyst
    analysis of the 65-column aggregate was half the operator's cost.

    r10 (VERDICT r9 item 4 closed): the remaining ~2 s "planning fee"
    was profiled to PY4J COLUMN CONSTRUCTION, not Catalyst — the 64
    per-bit Column objects cost ~500 driver round-trips (each
    shiftleft/bitwiseAND/when/+ is one JVM call). The packed lanes and
    the 64-term majority unpack are now built as SQL STRINGS (pure
    Python) and parsed JVM-side in ONE selectExpr each; the analyzed
    plan and the emitted fingerprints are identical (bit-equality
    re-pinned in test_dedup_similarity), but simhash_pairs' sf0.1 warm
    wall drops 3.1 s → ~1.5 s. String-built expressions reference only
    engine-generated names (h_lo/h_hi/p{g}/q{g}) — no user input
    enters the parsed text.
    """
    lane_bits, lanes_per_long = 32, 2
    n_packed = 64 // lanes_per_long
    lane_mask = (1 << lane_bits) - 1
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    # hash halves as named columns so each md5/conv subtree is built
    # once; everything downstream is string-assembled
    hashed = toks.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) AS h_lo",
        "CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT) AS h_hi",
    )

    def _bit_s(b: int) -> str:
        src = "h_lo" if b < 32 else "h_hi"
        return f"(shiftright({src}, {b % 32}) & 1)"

    packed_s = [
        "("
        + " + ".join(
            f"shiftleft({_bit_s(lanes_per_long * g + j)}, {lane_bits * j})"
            for j in range(lanes_per_long)
        )
        + f") AS p{g}"
        for g in range(n_packed)
    ]
    # the n_packed lane sums as ONE array-of-aggregates parse (r11: the
    # per-lane F.sum loop was the last ~0.2 s of py4j build fee here)
    lane_sums = ", ".join(f"sum(p{g})" for g in range(n_packed))
    sums = (
        hashed.selectExpr("doc_id", *packed_s)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.expr(f"array({lane_sums})").alias("__qs"),
        )
    )
    fp_terms = []
    for b in range(64):
        g, j = divmod(b, lanes_per_long)
        cnt = f"(shiftrightunsigned(__qs[{g}], {lane_bits * j}) & {lane_mask})"
        # bit 63 as a positive power would overflow signed long; the
        # fingerprint is an arbitrary 64-bit pattern, so fold bit 63 in
        # via the sign (two's complement)
        w = 1 << b if b < 63 else -(1 << 63)
        fp_terms.append(
            f"(CASE WHEN {cnt} * 2 > __n"
            f" THEN CAST({w} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return sums.selectExpr(
        "doc_id", "(" + " + ".join(fp_terms) + ") AS simhash"
    )


def simhash_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    exact: bool = False,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance → (doc_a,
    doc_b, hamming), doc_a < doc_b, hamming <= max_hamming.

    Input is `simhash64` output (doc_id, simhash). DEFAULT path is the
    banded multi-index equi-join (Norouzi et al.'s multi-index hashing,
    the same scheme `ahash_dup_pairs` uses for image hashes): split the
    64-bit fingerprint into `bands` equal slices, explode each hash
    into (band_idx, band_val) rows, self equi-join on the band, verify
    candidates with the exact xor-popcount, and dedup pairs that
    collide on several bands. A pair at Hamming distance d has its d
    differing bits inside at most d bands, so with d <= bands-1 at
    least one band matches exactly — the banded join is
    pigeonhole-COMPLETE (identical output to all-pairs) for
    max_hamming <= bands - 1, which the default (3 <= 4-1) satisfies;
    a looser max_hamming raises ValueError rather than silently losing
    recall (raise `bands` instead — completeness then costs more,
    narrower band values).

    The fingerprint is a signed long with bit 63 folded in as the sign
    (simhash64's two's-complement packing), so bands are sliced with
    shiftrightunsigned — a pure logical shift that lets the sign bit
    ride in the top band.

    Scale shape: the corpus shuffles as bands x ~24-byte rows keyed by
    (band_idx, band_val); with the default 16-bit bands, a random
    band value has 2^16 buckets, so join fan-out is quadratic only
    inside one bucket — near-dup clusters plus hash collisions, never
    the corpus. No CartesianProduct anywhere (plan-asserted in
    test_plans.py). This is the SimHash arm of the near-dup family:
    minhash-LSH (`dedup_near_minhash`) buckets by Jaccard, this
    buckets by the cosine-like Charikar fingerprint — same banded
    plan, one integer per doc instead of a signature array.

    `bucket_cap` (VERDICT r8 item 1, the exact_substring_spans df-cap
    idiom): a band bucket holding more than `bucket_cap` docs — a
    degenerate fingerprint region (hot template/boilerplate mass, or
    an adversarial constant band) — is excluded from PAIR BUILDING via
    that band, bounding per-bucket fan-out at cap² instead of the
    quadratic blowup a hot bucket otherwise costs. Completeness
    degrades ONLY for pairs whose every matching band is hot: a pair
    at hamming d <= bands-1 shares >= bands-d matching bands, so it
    survives unless ALL of them blow the cap. The default (None)
    keeps the exact pigeonhole-complete semantics; the capped form is
    a DIFFERENT exported contract (`simhash_pairs_capped` in the
    registry, whose oracle replays the same cap rule).

    exact=True keeps the O(N^2) all-pairs crossJoin for fixture-scale
    ground truth (the `ahash_dup_pairs` precedent) — never export it.
    """
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    if exact:
        a = hashes.select(
            F.col("doc_id").alias("doc_a"), F.col("simhash").alias("__sa")
        )
        b = hashes.select(
            F.col("doc_id").alias("doc_b"), F.col("simhash").alias("__sb")
        )
        return (
            a.crossJoin(b)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
        )

    if bands not in (2, 4, 8, 16, 32):
        raise ValueError(f"bands must divide 64 evenly; got {bands}")
    if max_hamming > bands - 1:
        raise ValueError(
            f"banded join is only complete for max_hamming <= bands-1; "
            f"got max_hamming={max_hamming} with bands={bands}"
        )
    if bucket_cap is not None and bucket_cap < 2:
        raise ValueError(f"bucket_cap must be >= 2, got {bucket_cap}")
    width = 64 // bands
    mask = (1 << width) - 1
    banded = hashes.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), k * width)
                    .bitwiseAND(F.lit(mask))
                    for k in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    if bucket_cap is not None:
        # Materialize the banded rows once (r12, the dedup_clusters
        # lineage lesson): the capped path consumes `banded` THREE ways
        # (the bucket-count aggregate + both self-join sides), and
        # without the cut each consumer re-executed AND re-planned the
        # upstream fingerprint tree (for simhash64 input, a 64-term
        # expression — measured simhash_pairs_capped ~2.9-3.2 s warm at
        # sf0.01 with most of it replanning/re-execution). The banding
        # artifact is bands x ~24-byte rows per doc — exactly what a
        # production index persists. Uncapped path unchanged: its two
        # join sides share one exchange (ReusedExchange), so the
        # checkpoint would only add a pass.
        banded = banded.transform(materialize)
        # one row per (doc, band): count(*) IS the bucket's doc count.
        ok = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= bucket_cap)
            .select("band_idx", "band_val")
        )
        if width <= 16:
            # the cool-bucket list is bounded by bands * 2^width rows
            # (<= 262k at 16-bit bands, a few MB) REGARDLESS of corpus
            # size — broadcast it so the cap filter is map-side and the
            # plan shape is scale-invariant (measured: without the
            # hint, AQE picks BHJ at 100k docs but SMJ at 1M, turning
            # the x10 shuffle ratio superlinear for plan reasons)
            ok = F.broadcast(ok)
        banded = banded.join(ok, ["band_idx", "band_val"])
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("__sa"),
        "band_idx",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("__sb"),
        "band_idx",
        "band_val",
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_clusters(pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b") -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    cluster_id = min doc id reachable through the pair graph — the
    canonical keeper for each duplicate cluster. Each round does (1) a
    neighbor-min hop and (2) a pointer-doubling shortcut (label :=
    label of my label), so reach doubles per round and convergence is
    O(log diameter) — a 2^20-hop chain converges within the round cap.
    Raises if the fixpoint is not reached (never silently mislabels).
    Each round is a couple of shuffles on node id; the same scheme
    GraphX/GraphFrames use.
    """
    # localCheckpoint, not persist (r12): persist caches the DATA but
    # keeps the LINEAGE, so every round's job re-ran Catalyst over the
    # whole upstream pair-producing plan (for simhash_dedup_drop that
    # is the 64-term fingerprint expression tree — measured ~12 s of
    # which ~7 s was per-job replanning; with the lineage truncated the
    # same loop runs in ~5 s). The checkpoint also is what a production
    # run persists anyway: the edge list IS the dedup graph artifact.
    # Pre-partition + sort the stored edges by the per-round join key
    # (r13, guide §2.4 "two operations keyed the same way share one
    # exchange"): the checkpointed LogicalRDD carries its output
    # partitioning and ordering, so EVERY round's neighbor join reads
    # edges already exchanged-and-sorted on dst — one extra shuffle of
    # the manifest-scale edge list at build time buys one exchange +
    # one sort out of every round at every graph size.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .repartition(F.col("dst"))
        .sortWithinPartitions("dst")
        .transform(materialize)
    )
    # Seed labels with the FIRST HOP folded into the node-set build
    # (r12): with identity labels, round 1's neighbor-min is just
    # min(neighbor id), so least(src, min(dst)) in the SAME aggregation
    # that derives the node set starts every node one hop ahead for
    # free (the groupBy replaces the former distinct — same single
    # exchange). Star/clique clusters — the typical near-dup graph —
    # now converge in ONE verify round instead of hop+verify; deeper
    # graphs are one hop further along. The fixpoint (min reachable id)
    # is unchanged: seeding with any subset of reachable mins preserves
    # both the invariant (label ∈ reachable ids, label <= node) and the
    # termination proof (labels pinned bit-identical against the
    # union-find oracle in test_dedup_similarity).
    # Lazy (r13): round 1's job reads every label partition anyway
    # (the neighbor-min join), so the seed materializes as a side
    # effect of that job instead of paying its own eager job — one
    # fewer serialized job on a loop whose cost IS its job count.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__m"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__m")).alias("label"),
        )
        .transform(materialize_lazy)
    )
    converged = False
    for _ in range(24):  # doubling: covers diameter up to 2^24
        # Hop as ONE union-aggregate (r13): min over (own label ∪
        # neighbor labels) per node — algebraically identical to the
        # former [neighbor-min agg, then left-join back onto labels,
        # then least(own, nmin)], but one join and one exchange
        # cheaper per round. label0 (the pre-round label, carried for
        # the convergence flag) rides the same aggregation: only the
        # self row carries it non-null, so max() recovers it exactly.
        # Every node has >= 1 neighbor row (edges are symmetric and
        # the node set IS the src set), and the self row guarantees
        # min() never exceeds the own label — same values as the old
        # coalesce-guarded shape on every input.
        label_type = labels.schema["label"].dataType
        contrib = edges.join(labels, edges["dst"] == labels["node"]).select(
            "src", "label", F.lit(None).cast(label_type).alias("label0")
        )
        selfr = labels.select(
            F.col("node").alias("src"),
            "label",
            F.col("label").alias("label0"),
        )
        hopped = (
            contrib.unionByName(selfr)
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                F.max("label0").alias("label0"),
            )
            .select(F.col("src").alias("node"), "label", "label0")
        )
        # pointer doubling: label := min(label, label(label))
        lab2 = hopped.select(
            F.col("node").alias("node2"), F.col("label").alias("label2")
        )
        # Checkpoint truncates lineage: the self-join doubles the
        # logical plan every round, and 20+ rounds of nested plans OOM
        # the driver during analysis long before any data is large.
        # The convergence flag rides IN the same plan (label vs the
        # carried label0) instead of a separate new-vs-old shuffle join
        # per round (r12: that join was one of four per-round jobs on a
        # fixed-cost loop — pure overhead at every graph size). r13:
        # the checkpoint is LAZY and the convergence COUNT is the
        # materializing action — one full-scan count job per round does
        # both (the former eager-checkpoint job + limit(1) probe jobs
        # collapsed into it; the full scan is not extra work, the next
        # round needed every partition materialized regardless).
        new_labels = (
            hopped.join(lab2, hopped["label"] == lab2["node2"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("label2"), F.col("label"))
                ).alias("label"),
                F.col("label0"),
            )
            .withColumn("changed", F.col("label") != F.col("label0"))
            .transform(materialize_lazy)
        )
        changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    # (checkpoint blocks are released by the ContextCleaner when the
    # edge frame goes out of scope — no explicit unpersist needed)
    if not converged:
        raise RuntimeError(
            "dedup_clusters did not converge within the round cap; "
            "graph diameter exceeds 2^24 or the input is pathological"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_near_embedding(
    embeddings: DataFrame, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
    group_col: str | None = None,
    exact: bool = False,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above threshold.

    Candidate scopes, in order of preference:

    - `group_col` given: exact pairs within group partitions (the
      provider-partitioned scope, mirroring the reference's composite
      (chunk, provider) key space, vector_storage.py:65) — an equi-join,
      never a cross join; safe when groups are bounded.
    - default (no group, exact=False): random-hyperplane LSH candidate
      generation — `n_tables` signature tables of `n_planes` sign bits
      each (deterministic seeds), candidates = pairs colliding in ANY
      table, then ONE exact cosine verification per candidate pair.
      Sub-quadratic: pair count shrinks ~2^n_planes per table. Recall
      < 1.0 by design (raise n_tables for recall; P[collide] =
      (1-θ/π)^n_planes per table) — the standard ANN trade, same as
      knn_batch_lsh. Exact duplicates (identical vectors) always
      collide, so recall on true duplicates is 1.0. `dim` must match
      the embedding dimensionality — a mismatch fails the job with an
      in-plan assertion (silently it would collapse every vector into
      one shared bucket: a hidden quadratic scan); NULL embeddings are
      tolerated and drop out in verification.
    - `exact=True` (no group): full all-pairs cross join. O(N²) — only
      for bounded inputs / recall ground truth.

    Cost control for verification: vectors are L2-normalized ONCE per
    row map-side, so each pair costs a single dot-product fold instead
    of dot + two norms (3x).
    """
    from data_pipeline2_spark.functions.vectors import dot, l2_norm

    # zero-norm (degenerate) vectors normalize to NULL and drop out of
    # the pair scan — and the guard avoids ANSI divide-by-zero errors
    norm = l2_norm(F.col(vec_col))
    normed = F.when(
        norm > 0, F.transform(F.col(vec_col), lambda x: x.cast("double") / norm)
    )
    base_cols = [F.col(id_col), normed.alias("__nv")]
    if group_col:
        base_cols.append(F.col(group_col))
    base = embeddings.select(*base_cols)

    if group_col is None and not exact:
        return _near_embedding_lsh(
            base, embeddings, threshold, id_col, vec_col,
            dim, n_planes, n_tables, seed,
        )

    join_keys = [group_col] if group_col else []
    a = base.select(
        *( [F.col(group_col)] if group_col else [] ),
        F.col(id_col).alias("id_a"), F.col("__nv").alias("na"),
    )
    b = base.select(
        *( [F.col(group_col)] if group_col else [] ),
        F.col(id_col).alias("id_b"), F.col("__nv").alias("nb"),
    )
    joined = a.join(b, join_keys) if join_keys else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot(F.col("na"), F.col("nb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _near_embedding_lsh(
    base: DataFrame,
    embeddings: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """LSH candidate generation + exact verify for dedup_near_embedding.

    Shuffle shape at scale: only (id, table, sig) rows — ~n_tables x
    (8B + n_planes bits) per vector — move through the candidate join;
    full vectors are joined back ONLY for the (tiny) candidate pair set.
    """
    from data_pipeline2_spark.functions.vectors import dot
    from data_pipeline2_spark.operators.similarity import (
        _hyperplanes,
        signature_col,
    )

    # dim mismatch must fail LOUDLY: zip_with pads the shorter side with
    # nulls, every dot folds to NULL, and all vectors would share one
    # all-'0' signature — an equi-join that degenerates to a full
    # quadratic scan with no CartesianProduct in the plan to flag it.
    # NULL embeddings pass the guard (they drop out in verification,
    # same as the exact paths) — only a present-but-wrong-width vector
    # is a configuration error.
    vec = F.when(
        F.assert_true(
            F.col(vec_col).isNull() | (F.size(F.col(vec_col)) == dim),
            f"dedup_near_embedding: embedding dim != configured dim={dim}",
        ).isNull(),
        F.col(vec_col),
    )
    # all tables' signatures in ONE projection + inline explode: the
    # corpus is scanned once for candidate generation, not n_tables times
    table_sigs = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                signature_col(vec, _hyperplanes(dim, n_planes, seed + t)).alias(
                    "sig"
                ),
            )
            for t in range(n_tables)
        ]
    )
    sigs = embeddings.select(
        F.col(id_col).alias("__id"),
        F.explode(table_sigs).alias("__ts"),
    ).select(
        "__id",
        F.col("__ts.tbl").alias("__tbl"),
        F.col("__ts.sig").alias("__sig"),
    )
    cand = (
        sigs.alias("sa")
        .join(
            sigs.alias("sb"),
            [
                F.col("sa.__tbl") == F.col("sb.__tbl"),
                F.col("sa.__sig") == F.col("sb.__sig"),
                F.col("sa.__id") < F.col("sb.__id"),
            ],
        )
        .select(
            F.col("sa.__id").alias("id_a"), F.col("sb.__id").alias("id_b")
        )
        .distinct()
    )
    # semi-reduce the (fat, corpus-sized) vector table to candidate ids
    # through a pinned broadcast before the verify joins — the round-9b
    # x100 rule; candidates checkpoint so the LSH self-join runs once
    cand = cand.transform(materialize)
    cid = (
        cand.select(F.col("id_a").alias("__cid"))
        .unionByName(cand.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    base_c = base.join(
        F.broadcast(cid), F.col(id_col) == F.col("__cid"), "left_semi"
    )
    na = base_c.select(F.col(id_col).alias("id_a"), F.col("__nv").alias("na"))
    nb = base_c.select(F.col(id_col).alias("id_b"), F.col("__nv").alias("nb"))
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot(F.col("na"), F.col("nb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def dedup_representative(
    documents: DataFrame,
    clusters: DataFrame,
    rank_cols: list | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick one canonical document per duplicate cluster →
    (doc_id, cluster_id, is_representative).

    `clusters` is (doc_id, cluster_id) from dedup_clusters; documents
    without a cluster row are singletons (their own cluster, always
    representative). `rank_cols` define preference, smaller-first —
    e.g. [-n_chars, doc_id] keeps the longest copy; doc_id is always
    appended as the final tiebreak so selection is total and
    deterministic.

    Scale shape: the representative is computed with min_by over a
    rank STRUCT in a plain groupBy — partial (map-side) aggregation
    collapses even a pathological 10M-copy boilerplate cluster to one
    row per map partition before the shuffle, where a
    row_number-window formulation would sort the whole skewed cluster
    in one task. The rep table is one row per cluster, joined back on
    cluster_id.
    """
    joined = documents.join(
        clusters.select(
            F.col(id_col), F.col("cluster_id").alias("__cid")
        ),
        id_col,
        "left",
    ).withColumn("cluster_id", F.coalesce(F.col("__cid"), F.col(id_col)))
    ranks = list(rank_cols) if rank_cols else []
    rank = F.struct(*ranks, F.col(id_col))
    reps = joined.groupBy("cluster_id").agg(
        F.min_by(F.col(id_col), rank).alias("__rep_id")
    )
    return (
        joined.join(reps, "cluster_id")
        .select(
            F.col(id_col),
            "cluster_id",
            (F.col(id_col) == F.col("__rep_id")).alias("is_representative"),
        )
    )


def signature_estimate_pairs(
    candidates: DataFrame, signatures: DataFrame, n_perm: int = N_PERM
) -> DataFrame:
    """Estimate Jaccard for candidate pairs from wide MinHash signatures
    alone → (doc_a, doc_b, est_jaccard).

    est = fraction of equal signature components — the standard MinHash
    estimator (unbiased, stderr ≈ 1/sqrt(n_perm)). No document text is
    touched: this is what makes incremental dedup cheap, the signature
    store IS the corpus representation.

    The store is semi-reduced to candidate docs through a PINNED
    broadcast of the candidate-id set before the pair joins (the
    round-9b x100 rule: a side that is small BY CONSTRUCTION gets an
    explicit broadcast — without it AQE was measured sort-merging a
    corpus-sized table against a ~1 MB id set). Every shuffle here is
    candidate-bounded; the store itself never moves.
    """
    cands = candidates.transform(materialize)
    sigs_c = signatures.join(
        F.broadcast(_candidate_ids(cands)), "doc_id", "left_semi"
    )
    # projections + component-match fold as SQL strings (r11 py4j rule)
    sa = sigs_c.selectExpr(
        "doc_id AS doc_a",
        *[f"mh_{p} AS __a{p}" for p in range(n_perm)],
    )
    sb = sigs_c.selectExpr(
        "doc_id AS doc_b",
        *[f"mh_{p} AS __b{p}" for p in range(n_perm)],
    )
    eq = " + ".join(
        f"cast((__a{p} = __b{p}) AS int)" for p in range(n_perm)
    )
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            # N.B. a bare `16.0` literal parses as DECIMAL in Spark
            # SQL — the explicit double cast keeps est_jaccard float64
            f"round(({eq}) / cast({n_perm} AS double), 6) AS est_jaccard",
        )
    )


def dedup_near_incremental_minhash(
    new_docs: DataFrame,
    old_signatures: DataFrame,
    n_perm: int = N_PERM,
    band_size: int = BAND_SIZE,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dedup a NEW batch against a persisted signature store →
    (doc_a, doc_b, est_jaccard) pairs involving >= 1 new doc.

    The production incremental pattern: each ingest batch computes
    signatures for its own docs only, LSH-joins against the
    accumulated signature store (old text is never re-read — the store
    is n_perm x 8 bytes per doc), and verifies candidates with the
    signature-estimated Jaccard. Old-old pairs are excluded: they were
    reported when those batches arrived. Append new_sigs to the store
    afterwards and the loop continues.
    """
    for c, dt in old_signatures.dtypes:
        if c.startswith("mh_") and dt not in ("bigint", "int", "long"):
            raise ValueError(
                f"old_signatures.{c} has type {dt}: this store was built "
                "with the legacy hex-slice family. unionByName would "
                "coerce to string and silently match nothing — re-derive "
                "the store with minhash_signature_cols (integer family)."
            )
    new_sigs = minhash_signature_cols(
        doc_shingles(new_docs, 3, id_col, text_col, distinct=False), n_perm
    ).transform(materialize)
    all_sigs = old_signatures.unionByName(new_sigs)
    cands = lsh_candidate_pairs(lsh_band_keys_wide(all_sigs, n_perm, band_size))
    new_ids = new_sigs.select(F.col("doc_id"))
    cands_new = (
        cands.join(new_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .unionByName(
            cands.join(
                new_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi"
            )
        )
        .distinct()
    )
    return signature_estimate_pairs(cands_new, all_sigs, n_perm).filter(
        F.col("est_jaccard") >= threshold
    )


def duplicate_ngram_spans(
    documents: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    top: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated n-gram spans → (gram, n_docs,
    n_occurrences): the pretraining-corpus diagnostic for verbatim
    boilerplate (license headers, navigation chrome, template text)
    that survives document-level dedup because the containing docs
    differ. Top spans by document reach, deterministic tie-break.

    Shape at scale: one explode + one hash-groupBy on the gram — the
    shuffle carries (gram, doc_id) pairs, partial-aggregated map-side;
    the `top` limit is a TakeOrdered, never a global sort.
    """
    sh = doc_shingles(documents, n, id_col, text_col, distinct=False)
    return (
        sh.groupBy("shingle")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(F.col("shingle").alias("gram"), "n_docs", "n_occurrences")
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "gram")
        .limit(top)
    )


def exact_substring_spans(
    documents: DataFrame,
    n_tokens: int = 50,
    df_cap_abs: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    restrict_pairs: DataFrame | None = None,
) -> DataFrame:
    """Maximal cross-document EXACT shared token spans of length >=
    `n_tokens` → (doc_a, doc_b, a_start, b_start, span_tokens): the
    published 50-token exact-substring training-data dedup standard
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — their suffix-array criterion re-expressed as a
    fingerprint-bucketed join, the shape a Spark cluster can run).

    How: every doc emits one 64-bit xxhash64 fingerprint per
    `n_tokens`-token window (a SLICE of the in-row token array over an exploded
    position sequence — map-side only, no window sort, no shuffle
    carries token arrays); fingerprints shared by 2..`df_cap_abs`
    docs bucket the candidate pairs (never all-pairs); matched window
    starts on the same (doc_a, doc_b, pa-pb) DIAGONAL are merged by
    the gaps-and-islands rewrite into runs, and a run of length r
    is exactly one maximal shared span of r + n_tokens - 1 tokens:
    tokens a[pa..pa+n-1+r] == b[pb..] iff all r+1 covered window
    fingerprints match. Span POSITIONS are 1-based token indices.

    `df_cap_abs` is the sparse_cosine_topk lesson (VERDICT r7): a
    window shared by more docs than the cap (boilerplate/chrome) is
    excluded from PAIR building — at lake scale such grams create
    quadratic pair blowup and are exactly what duplicate_ngram_spans
    already reports corpus-wide; the cap is part of the exported
    semantics and the oracle applies the same rule.

    Fingerprint equality stands in for token equality (the same
    stance as the suffix-array standard's hashed variants). Honest
    collision accounting at 64 bits: a single aligned-window pair
    collides with p ~ 2^-64, but AGGREGATE birthday collisions across
    W distinct windows reach 50% at W ~ 5e9 — at bench SFs (<< 1e9
    windows) spurious spans are vanishingly rare and the oracle
    agrees bit-for-bit, while a full 100 TB corpus (~1e12+ windows)
    SHOULD expect some colliding buckets. At that scale either (a)
    verify merged runs once per emitted span against the token slices
    (cheap: spans are tiny vs windows — the df-capped bucket already
    bounds the verify fan-out), or (b) widen to 128 bits via two
    xxhash64 seeds (xxhash64(ws_slice), xxhash64(ws_slice, seed=1)) as
    the bucket key. Both keep the plan shape; neither is wired in
    because the bench-scale contract is the oracle-checked output.
    r12:
    the fingerprint is xxhash64 over the token-array SLICE itself
    (guide §2.3 "narrower types" + §1.2 per-task work) — the former
    md5(array_join(...)) assembled a ~n_tokens-word string and ran a
    cryptographic digest per window (O(corpus_tokens x n_tokens)
    bytes built AND md5'd), where xxhash64 consumes the array
    directly with no string materialization, and every downstream
    shuffle/join carries an 8-byte long instead of a 32-char hex
    string. The OUTPUT is fingerprint-invariant (spans depend only on
    hash equality); the oracle keeps its own md5 bucketing and the
    driver compares final spans.

    Scale shape: window emission is linear in corpus tokens and
    map-only; the h-groupBy df filter and the self-join shuffle
    ONLY (h, doc, pos) tuples (never the text); the self-join's two
    sides reuse one exchange (ReusedExchange); the island window
    partitions by (doc_a, doc_b, diag) — bounded by matched-window
    counts, which the df cap keeps linear.
    """
    if n_tokens < 2 or df_cap_abs < 2:
        raise ValueError(
            f"need n_tokens >= 2 and df_cap_abs >= 2, got "
            f"({n_tokens}, {df_cap_abs})"
        )
    from pyspark.sql.window import Window

    if restrict_pairs is not None:
        # winnow-then-verify scale path: only docs appearing in a
        # candidate pair emit windows at all (the corpus-sized win —
        # at 100 TB almost every doc is pair-free and never fingerprints
        # here), and matches outside the candidate pairs are dropped.
        # The df cap then counts documents WITHIN the restricted set:
        # documented scope difference vs the unrestricted key, and
        # exactly what the oracle replays.
        documents = documents.join(
            _candidate_ids(restrict_pairs, id_col), id_col, "semi"
        )
    docs = ensure_parallelism(
        documents.filter(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(F.col(text_col))) > 0)
        ),
        id_col,
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("ws"),
    ).filter(F.size("ws") >= n_tokens)
    wins = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("ws") - F.lit(n_tokens - 1))
        ).alias("p"),
        "ws",
    ).select(
        "doc_id",
        "p",
        F.xxhash64(F.slice(F.col("ws"), F.col("p"), n_tokens)).alias("h"),
    )
    # windows worth pairing: shared by >= 2 docs (cross-doc by
    # definition) and <= df_cap_abs docs (boilerplate exclusion)
    eligible = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= df_cap_abs))
        .select("h")
    )
    # candidate windows = members of shared-h buckets only — df-capped
    # to at most df_cap_abs docs per bucket, i.e. orders of magnitude
    # below corpus volume. Checkpoint once: it feeds BOTH self-join
    # sides, and without the cut Spark re-runs the whole fingerprint
    # map + df filter per branch (measured 4x subtree duplication).
    # The two pre-checkpoint passes over `wins` (df aggregation +
    # probe) are map-only scans — the honest cost at lake scale,
    # cheaper than materializing corpus-sized fingerprints.
    cand = wins.join(eligible, "h").transform(materialize)
    a = cand.select(
        F.col("h").alias("ha"), F.col("doc_id").alias("doc_a"),
        F.col("p").alias("pa"),
    )
    b = cand.select(
        F.col("h").alias("hb"), F.col("doc_id").alias("doc_b"),
        F.col("p").alias("pb"),
    )
    mt = a.join(b, (F.col("ha") == F.col("hb"))).filter(
        F.col("doc_a") < F.col("doc_b")
    ).select("doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    if restrict_pairs is not None:
        mt = mt.join(
            restrict_pairs.select("doc_a", "doc_b").distinct(),
            ["doc_a", "doc_b"],
            "semi",
        )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = mt.withColumn("grp", F.col("pa") - F.row_number().over(w))
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("a0"),
            F.min("pb").alias("b0"),
            F.max("pa").alias("a1"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("a0").cast("int").alias("a_start"),
            F.col("b0").cast("int").alias("b_start"),
            (F.col("a1") - F.col("a0") + n_tokens)
            .cast("int")
            .alias("span_tokens"),
        )
    )


def exact_substring_dedup_stats(
    documents: DataFrame,
    n_tokens: int = 50,
    df_cap_abs: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The APPLY step of exact-substring dedup → per affected doc:
    (doc_id, n_tokens, n_cut_spans, tokens_removed, tokens_kept,
    removed_ratio). Lee et al. 2022 remove all but ONE occurrence of
    each duplicated substring; the deterministic keep rule here is
    lowest-doc-id-keeps: every maximal shared span cuts its doc_b
    occurrence (exact_substring_spans emits doc_a < doc_b), so the
    smallest doc id in any duplication chain retains its copy.

    Cut intervals from different partners overlap freely; the removal
    accounting merges them per doc with the gaps-and-islands interval
    union (running max-end window, new island when start exceeds every
    prior end) — token counts are exact, not double-counted.

    Scale shape: on top of exact_substring_spans (corpus-linear, see
    there); the interval merge windows over CUT SPANS per doc — output-
    sized, orders below corpus volume. Docs with nothing to cut are
    not emitted (at lake scale almost all docs are clean; emitting
    them would make the report corpus-sized for zero information).
    """
    from pyspark.sql.window import Window

    spans = exact_substring_spans(
        documents, n_tokens, df_cap_abs, id_col, text_col
    )
    cuts = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("span_tokens") - 1).alias("e"),
    )
    w_ord = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_end = F.max("e").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        F.col("s") > F.coalesce(prev_end, F.lit(-1))
    ).cast("int")
    isl = cuts.withColumn(
        "g",
        F.sum(new_island).over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_doc = (
        isl.groupBy("doc_id", "g")
        .agg(
            (F.max("e") - F.min("s") + 1).alias("cut_len")
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_cut_spans"),
            F.sum("cut_len").alias("tokens_removed"),
        )
    )
    ntok = documents.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.lower(F.col(text_col)))).alias("n_tokens"),
    )
    return per_doc.join(ntok, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("long"),
        F.col("n_cut_spans").cast("long"),
        F.col("tokens_removed").cast("long"),
        (F.col("n_tokens") - F.col("tokens_removed"))
        .cast("long")
        .alias("tokens_kept"),
        F.round(
            F.col("tokens_removed") / F.col("n_tokens").cast("double"), 6
        ).alias("removed_ratio"),
    )


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 25,
    w: int = 26,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowed document fingerprints → (doc_id, pos, fp): the
    Schleimer–Wilkerson–Aiken 2003 winnowing scheme (the MOSS
    algorithm) over token k-grams — from each sliding window of `w`
    consecutive k-gram hashes keep the minimum (ties to the LEFTMOST
    position, via lexicographic struct-min on (hash, pos); identical
    selections from adjacent windows collapse).

    The published guarantee: any exact shared substring of at least
    w + k - 1 tokens contributes at least one IDENTICAL fingerprint to
    both documents, while expected selection density is 2/(w+1) of
    positions — the defaults (k=25, w=26) bind the guarantee to the
    50-token exact-substring dedup standard (Lee et al. 2022) at ~13x
    fewer index entries than exact_substring_spans' every-position
    fingerprinting. This is the INDEX a lake deployment persists;
    exact_substring_spans is the exhaustive verifier run on winnow-
    bucketed candidates.

    Scale shape: gram hashing is map-only (in-row token-array slices);
    ONE exchange clusters each doc's gram sequence for the w-window
    struct-min; the distinct on (doc_id, pos) reuses that partitioning
    (grouping keys contain doc_id — no second exchange). Output is
    ~2/(w+1) of corpus positions.
    """
    from pyspark.sql.window import Window

    if k < 1 or w < 2:
        raise ValueError(f"need k >= 1 and w >= 2, got ({k}, {w})")
    docs = ensure_parallelism(
        documents.filter(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(F.col(text_col))) > 0)
        ),
        id_col,
    )
    need = k + w - 1  # shortest doc with at least one full hash window
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("ws"),
    ).filter(F.size("ws") >= need)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("ws") - F.lit(k - 1))
        ).alias("p"),
        "ws",
    ).select(
        "doc_id",
        "p",
        shingle_hash64(
            F.array_join(F.slice(F.col("ws"), F.col("p"), k), " ")
        ).alias("h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    sel = (
        grams.withColumn("s", F.min(F.struct("h", "p")).over(win))
        # only full windows select (the standard guarantee quantifies
        # over complete windows); p is dense from 1 so p >= w works
        .filter(F.col("p") >= w)
        .select(
            "doc_id",
            F.col("s.p").alias("pos"),
            F.col("s.h").alias("fp"),
        )
    )
    return sel.groupBy("doc_id", "pos").agg(F.first("fp").alias("fp"))


def semdedup(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "Data-efficient learning at
    web-scale through semantic deduplication") → one row per vector:
    (vec_id, cluster, centroid_dist, kept).

    The published recipe: k-means-cluster the embeddings, call two
    items SEMANTIC duplicates when their cosine similarity inside a
    cluster exceeds `eps`, and keep the duplicate with the LOWEST
    similarity to its cluster centroid (diversity-preserving). Here
    the keep-rank expresses the same rule through the trajectory's
    rounded squared-L2: a vector is dropped iff a same-cluster
    neighbor with cos > eps is FARTHER from the centroid (rounded
    dist, ties to the lower id — a total order, so the survivor set
    is partition-invariant).

    Plan shape: the deterministic Lloyd's trajectory is the oracle-
    replayable kmeans (per-iteration state O(k·dim) on the driver,
    assignment map-only over a broadcast centroid row); the duplicate
    scan is a CLUSTER-KEYED self-join — quadratic only within one
    cluster, never the corpus, which is the published algorithm's own
    cost model (SemDeDup picks k so clusters stay small; for corpora
    where a cluster outgrows that, `dedup_near_embedding`'s
    hyperplane-LSH arm is the sub-cluster-bucketed alternative). The
    assignment output is checkpointed once (id + vec + norm + cluster +
    dist per row) because it feeds both join sides and the final report —
    the iterative-fit working-set pattern _kmeans_trajectory itself
    uses. With the norm stored, a candidate pair folds once (the dot).
    """
    from data_pipeline2_spark.functions.vectors import cosine, with_norm
    from data_pipeline2_spark.operators.similarity import _kmeans_trajectory

    cents, assign = _kmeans_trajectory(embeddings, k, n_iter, id_col, vec_col)
    final = with_norm(assign(cents), "_v", "_n").transform(materialize)
    a = final.select(
        F.col("_id").alias("xa"), F.col("_v").alias("va"),
        F.col("_n").alias("na"), "cluster", F.col("dist").alias("da"),
    )
    b = final.select(
        F.col("_id").alias("xb"), F.col("_v").alias("vb"),
        F.col("_n").alias("nb"), "cluster", F.col("dist").alias("db"),
    )
    sim = cosine("va", "na", "vb", "nb", 6)
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("xa") != F.col("xb"))
        .filter(sim > eps)
        .filter(
            (F.col("db") > F.col("da"))
            | ((F.col("db") == F.col("da")) & (F.col("xb") < F.col("xa")))
        )
        .select(F.col("xa").alias("_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return final.join(dropped, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.col("cluster").cast("int").alias("cluster"),
        F.round(F.col("dist"), 6).alias("centroid_dist"),
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
    )


def winnow_incremental_candidates(
    index: DataFrame,
    batch_fps: DataFrame,
    df_cap_abs: int = 16,
) -> DataFrame:
    """Candidate pairs TOUCHING an ingest batch, from a PERSISTED winnow
    index plus the batch's own fingerprints → (doc_a, doc_b).

    The amortization contract (VERDICT r8 item 2): the lake's winnow
    index — `winnow_fingerprints` output, persisted once — is never
    recomputed per batch; each ingest batch fingerprints ONLY ITSELF
    (~2/(w+1) of batch positions), unions against the stored index, and
    extracts pairs with at least one batch-side doc. Base-vs-base pairs
    are excluded: they were settled when the base was indexed. Feed the
    result to `exact_substring_spans(all_docs, restrict_pairs=...)` for
    the verify pass — only candidate-pair docs emit full window
    fingerprints there.

    The df cap counts docs across index ∪ batch (same rule the one-shot
    winnowed key applies corpus-wide). Scale shape: one groupBy on fp
    (the stored index is already (doc_id, pos, fp) — ~600 B/row), one
    fp-keyed self-join bounded by the cap, one semi-join against the
    batch ids; nothing in the plan is proportional to base TEXT.
    """
    all_fps = index.select("doc_id", "fp").unionByName(
        batch_fps.select("doc_id", "fp")
    )
    eligible = (
        all_fps.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= df_cap_abs))
        .select("fp")
    )
    keyed = all_fps.join(eligible, "fp")
    a = keyed.select(F.col("fp").alias("fa"), F.col("doc_id").alias("doc_a"))
    b = keyed.select(F.col("fp").alias("fb"), F.col("doc_id").alias("doc_b"))
    batch_ids = batch_fps.select("doc_id").distinct()
    pairs = (
        a.join(b, F.col("fa") == F.col("fb"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    touching = pairs.join(
        batch_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "semi"
    ).unionByName(
        pairs.join(
            batch_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "semi"
        )
    )
    return touching.distinct()


def near_dup_stats(
    documents: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-row corpus near-duplication summary → (n_docs, n_dup_pairs,
    n_dup_docs, dup_doc_fraction): the number a curation run reports
    before deciding how aggressively to dedup. Composes the full
    minhash pipeline in-plan (no driver-side counts)."""
    pairs = dedup_near_minhash(
        documents, shingle_n, threshold=threshold,
        id_col=id_col, text_col=text_col,
    ).transform(materialize)  # two aggregate consumers below
    dup_docs = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_dup_docs"))
    )
    n_docs = (
        documents.filter(
            F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) > 0)
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    return (
        n_docs.crossJoin(n_pairs)
        .crossJoin(dup_docs)
        .select(
            "n_docs",
            "n_dup_pairs",
            "n_dup_docs",
            # try_divide: an all-empty corpus has n_docs = 0 and must
            # yield NULL, not an ANSI DIVIDE_BY_ZERO (ADVICE r4)
            F.round(F.try_divide("n_dup_docs", "n_docs"), 6).alias(
                "dup_doc_fraction"
            ),
        )
    )


def chunk_dedup_stats(
    chunks: DataFrame,
    content_col: str = "content",
    chunk_id_col: str = "chunk_id",
    doc_id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Chunk-level exact duplication report → (content_sha, n_chunks,
    n_docs, keep_chunk_id): dedup below document granularity — the pass
    a pipeline runs before embedding so identical chunks are embedded
    (and paid for) once. Same hash-groupBy shape as dedup_exact; the
    shuffle key is a 64-hex digest, skew-free at any corpus size."""
    return (
        chunks.filter(F.col(content_col).isNotNull())
        .groupBy(content_hash(F.col(content_col)).alias("content_sha"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct(F.col(doc_id_col)).alias("n_docs"),
            F.min(F.col(chunk_id_col)).alias("keep_chunk_id"),
        )
        .filter(F.col("n_chunks") >= min_count)
    )


def pagerank_pairs(
    pairs: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """PageRank over an undirected pair list → (node, pagerank):
    centrality within the near-duplicate graph — the most-connected
    member of a dup cluster is the natural canonical representative,
    and heavy hubs flag template/boilerplate families.

    Iterative-in-Catalyst discipline (same as the oracled k-means
    trajectory): a FIXED iteration count unrolled as plan stages, every
    intermediate rank rounded to 8 decimals so the DuckDB oracle's
    unrolled CTE chain walks a bit-identical trajectory. Each iteration
    is one join + one aggregation on the edge list: shuffle O(edges),
    never O(nodes^2). The node count enters via a broadcast single-row
    aggregate — no driver-side collect.
    """
    und = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n_row = nodes.agg(F.count(F.lit(1)).alias("__n"))
    rank = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", F.round(F.lit(1.0) / F.col("__n"), 8).alias("rank")
    )
    for _ in range(n_iter):
        contrib = (
            und.join(rank, und["src"] == rank["node"])
            .join(deg, und["src"] == deg["node"])
            .groupBy("dst")
            # contributions round to 12 dp and sum as decimals: a plain
            # double sum is partition-order-dependent, and a last-ulp
            # flip at the 8-dp rounding boundary below would diverge
            # from the oracle (the session_stats/exact_sum discipline)
            .agg(
                F.sum(
                    F.round(F.col("rank") / F.col("deg"), 12).cast(
                        "decimal(28,12)"
                    )
                )
                .cast("double")
                .alias("__c")
            )
        )
        rank = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(n_row))
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("__n")
                    + damping * F.coalesce(F.col("__c"), F.lit(0.0)),
                    8,
                ).alias("rank"),
            )
        )
    return rank.select("node", F.round("rank", 6).alias("pagerank"))


def dup_graph_triangles(
    documents: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Triangles in the near-duplicate graph → (doc_a, doc_b, doc_c)
    with doc_a < doc_b < doc_c, plus each pairwise edge present.

    Triangle density separates true duplicate *families* (template
    boilerplate, mirrored dumps — cliques) from chains of borderline
    pairs that connected components would over-merge; the standard
    pre-check before choosing cluster-level vs pair-level dedup.

    Scale shape: runs on the verified pair list (already sub-quadratic
    via banded LSH), which is orders of magnitude smaller than the
    corpus; the two triangle joins shuffle only (long, long) edges.
    """
    edges = dedup_near_minhash(
        documents, shingle_n, threshold=threshold,
        id_col=id_col, text_col=text_col,
    ).select("doc_a", "doc_b").transform(materialize)  # reused 3x
    ab = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    ac = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.col("c").alias("doc_c"),
        )
    )


def lsh_eval(
    documents: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH quality report, one row → (n_exact_pairs, n_lsh_pairs,
    n_common, recall, precision): the banded-MinHash pipeline's pair
    set vs the exact all-pairs n-gram Jaccard ground truth, at the same
    threshold.

    The retune gate for the banding parameters (N_PERM/BAND_SIZE): run
    it on a sample before changing the S-curve, and keep it in the
    registry so the driver re-measures recall every round. Both
    operands verify candidates with the SAME exact-Jaccard predicate,
    so precision < 1 can only come from estimation-vs-verify ordering
    (with verify-on-candidates, both paths verify exactly → precision
    is structurally 1.0 and recall is the banding's candidate recall).

    Scale note: the exact arm is the quadratic ground truth — run on
    samples, not the corpus (the operator exists to VALIDATE the
    sub-quadratic arm you actually run at scale).
    """
    # One conditional-count pass over the tagged union of both pair
    # sets (r13 — the r12 census pattern): the former three separate
    # one-row aggregates consumed `exact` and `lsh` twice each
    # (re-executing both pipeline tails) and assembled through two
    # one-row BroadcastNestedLoopJoin crossJoins. Each pair set is
    # unique per (doc_a, doc_b) by construction, so the intersection
    # count == the inner-join count the old shape computed.
    exact = (
        dedup_ngram_jaccard(
            documents, shingle_n, threshold=threshold,
            id_col=id_col, text_col=text_col,
        )
        .select("doc_a", "doc_b")
        .withColumn("__e", F.lit(1))
        .withColumn("__l", F.lit(0))
    )
    lsh = (
        dedup_near_minhash(
            documents, shingle_n, threshold=threshold,
            id_col=id_col, text_col=text_col,
        )
        .select("doc_a", "doc_b")
        .withColumn("__e", F.lit(0))
        .withColumn("__l", F.lit(1))
    )
    per_pair = (
        exact.unionByName(lsh)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("__e").alias("__e"), F.max("__l").alias("__l"))
    )
    return per_pair.agg(
        F.count(F.when(F.col("__e") == 1, F.lit(1))).alias("n_exact_pairs"),
        F.count(F.when(F.col("__l") == 1, F.lit(1))).alias("n_lsh_pairs"),
        F.count(
            F.when((F.col("__e") == 1) & (F.col("__l") == 1), F.lit(1))
        ).alias("n_common"),
    ).select(
        "n_exact_pairs",
        "n_lsh_pairs",
        "n_common",
        F.round(
            F.col("n_common") / F.greatest(F.col("n_exact_pairs"), F.lit(1)), 6
        ).alias("recall"),
        F.round(
            F.col("n_common") / F.greatest(F.col("n_lsh_pairs"), F.lit(1)), 6
        ).alias("precision"),
    )


def lsh_tuning_curve(
    spark,
    n_perms: tuple[int, ...] = (16, 32),
    band_sizes: tuple[int, ...] = (2, 4),
) -> DataFrame:
    """Analytic LSH S-curves → (n_perm, band_size, n_bands, jaccard,
    p_candidate) for jaccard in 0.05..0.95 steps of 0.05: the
    probability a pair with similarity s shares >= 1 band bucket,
    p = 1 - (1 - s^r)^b (r = band_size, b = n_perm / r).

    The design table behind the banding constants (see BAND_SIZE): read
    off candidate recall at the operating threshold before retuning,
    and cross-check the measured `dedup_lsh_eval` recall against the
    analytic value. Powers expand to FIXED-ORDER multiplication chains
    (no pow()), so both engines compute bit-identical doubles.
    """
    configs = [
        (p, r, p // r) for p in n_perms for r in band_sizes if p % r == 0
    ]
    if not configs:
        raise ValueError(
            f"lsh_tuning_curve: no band_size in {band_sizes} divides any "
            f"n_perm in {n_perms}"
        )
    rows = spark.range(1, 20).select(
        (F.col("id") * 0.05).alias("jaccard")
    )
    out = None
    for n_perm, r, b in configs:
        s_r = F.lit(1.0)
        for _ in range(r):  # s^r as a fixed-order product
            s_r = s_r * F.col("jaccard")
        miss = F.lit(1.0) - s_r
        miss_b = F.lit(1.0)
        for _ in range(b):  # (1 - s^r)^b likewise
            miss_b = miss_b * miss
        cfg = rows.select(
            F.lit(n_perm).alias("n_perm"),
            F.lit(r).alias("band_size"),
            F.lit(b).alias("n_bands"),
            F.round(F.col("jaccard"), 2).alias("jaccard"),
            F.round(F.lit(1.0) - miss_b, 6).alias("p_candidate"),
        )
        out = cfg if out is None else out.unionByName(cfg)
    return out


def containment_pairs(
    candidates: DataFrame, shingles: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """Asymmetric shingle-containment verification of candidate pairs
    → (doc_a, doc_b, n_a, n_b, n_inter, containment_a, containment_b)
    where containment_a = |sh(A) ∩ sh(B)| / |sh(A)| (Broder's
    containment, the quote/boilerplate/subset-duplicate signal Jaccard
    misses: a short doc fully embedded in a long one has containment
    ~1.0 but Jaccard ~|A|/|B|). Pairs kept when they share at least one
    shingle and EITHER direction >= threshold. Input `shingles` carries
    DISTINCT (doc_id, shingle) rows.

    Same plan as jaccard_pairs (`_pair_shingle_sets`: one per-doc
    sorted-array pack, candidate-sized joins, a map-side
    array_intersect); only the projected score differs.
    """
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    out = (
        _pair_shingle_sets(candidates, shingles)
        .select("doc_a", "doc_b", "n_a", "n_b", inter.cast("long").alias("n_inter"))
        .filter(F.col("n_inter") > 0)
        .withColumn("containment_a", F.round(F.col("n_inter") / F.col("n_a"), 6))
        .withColumn("containment_b", F.round(F.col("n_inter") / F.col("n_b"), 6))
    )
    return out.filter(
        F.greatest(F.col("containment_a"), F.col("containment_b"))
        >= threshold
    )


def dedup_containment(
    documents: DataFrame,
    shingle_n: int = 3,
    n_perm: int = N_PERM,
    band_size: int = BAND_SIZE,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Subset-duplicate detection: the dedup_near_minhash pipeline with
    a CONTAINMENT verify instead of Jaccard — finds docs that quote or
    wholesale-embed other docs (containment >= threshold in either
    direction) even when the symmetric Jaccard stays below the dedup
    cut. Same candidate stage (`_lsh_candidates`), same
    candidate-bounded fingerprints and verify shape as
    dedup_near_minhash.

    Candidate recall caveat (honest): the LSH banding is tuned for
    JACCARD similarity, so a pair whose sizes differ by much more than
    1/threshold can be contained yet rarely collide in a band; at lake
    scale a dedicated containment index (e.g. a sample of A's shingles
    probed against a shingle→doc inverted table, the "Finding
    near-duplicates" / Shrivastava asymmetric-LSH family) replaces the
    candidate stage, and the verify below is unchanged. The oracle
    replays candidates + verify exactly, so what the operator claims
    is what it computes.
    """
    _, cands = _lsh_candidates(
        shingle_fingerprints(documents, shingle_n, id_col, text_col, distinct=False),
        n_perm, band_size,
    )
    sh_cand = _candidate_fingerprints(documents, cands, shingle_n, id_col, text_col)
    return containment_pairs(cands, sh_cand, threshold)


def leakage_safe_split(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    train_pct: int = 8,
    salt: str = "split",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cluster-aware train/test split → (split, n_docs, n_clusters,
    leak_pairs): every document of a near-dup CLUSTER lands in the same
    split, so no near-duplicate of a training doc can sit in the test
    set (the train/test-leakage failure mode of row-wise splits over
    deduplicated-but-clustered corpora; cf. Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" §5).

    Mechanics: near-dup pairs (default: the dedup_near_minhash
    pipeline) → connected components (dedup_clusters) → singleton docs
    keep their own id as cluster → the CLUSTER id (not the doc id)
    hashes into train/test at train_pct/10 via the engine-portable
    60-bit md5 fingerprint. leak_pairs counts verified near-dup pairs
    straddling splits — 0 by construction, and the column makes the
    guarantee hash-checkable in-plan rather than asserted in a test.

    Scale shape: clustering cost is the dedup run the corpus needs
    anyway; the split itself is one map-side hash + a doc_id-keyed
    left join of the (tiny) clustered subset.
    """
    if pairs is None:
        pairs = dedup_near_minhash(
            documents, id_col=id_col, text_col=text_col
        )
    edge_pairs = pairs.select("doc_a", "doc_b")
    clusters = dedup_clusters(edge_pairs)
    ids = documents.select(F.col(id_col).alias("doc_id"))
    labeled = ids.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    bucket = shingle_hash64(
        F.concat(F.lit(salt + "|"), F.col("cluster_id").cast("string"))
    ) % 10
    split_col = F.when(bucket < train_pct, F.lit("train")).otherwise(
        F.lit("test")
    )
    assigned = labeled.withColumn("split", split_col)
    summary = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
    )
    sa = assigned.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("__sa")
    )
    sb = assigned.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("__sb")
    )
    leaks = (
        edge_pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("__sa") != F.col("__sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("leak_pairs"))
    )
    return summary.crossJoin(F.broadcast(leaks))


# ---------------------------------------------------------------- FastSS
# edit-distance-1 fuzzy join (round 6)


def deletion_variants(words: DataFrame, word_col: str = "w") -> DataFrame:
    """FastSS k=1 neighborhood: each word maps to itself plus every
    single-character deletion → (w, v) rows.

    Bostroem/Karlgren FastSS observation: two strings at edit distance
    <= 1 ALWAYS share a member of their deletion-1 neighborhoods
    (substitution: delete the differing position in both; indel: the
    shorter string is itself a deletion of the longer; equality:
    the strings themselves). So a plain equi-join on the variant key
    finds every candidate pair with zero all-pairs work.
    """
    variants = (
        f"array_union(array({word_col}), "
        f"transform(sequence(1, length({word_col})), "
        f"i -> concat(substring({word_col}, 1, i - 1), "
        f"substring({word_col}, i + 1, length({word_col}) - i))))"
    )
    return words.select(
        F.col(word_col).alias("w"), F.explode(F.expr(variants)).alias("v")
    )


def fuzzy_join_ed1(
    left_words: DataFrame, right_words: DataFrame
) -> DataFrame:
    """All (left, right) word pairs with levenshtein distance <= 1 —
    the typo-matching join (dirty query log vs clean vocabulary,
    near-identical entity names) without an all-pairs scan.

    Candidates come from the deletion-neighborhood equi-join (complete
    for ed <= 1, so recall is exactly 1.0 — unlike the probabilistic
    LSH families); each candidate is then verified with the exact
    levenshtein built-in. At scale both sides shuffle only VOCABULARY
    rows times (len+1) variants — corpus size never enters the join.
    Expected output columns on each input: a single `w` string column.

    → (w1, w2, dist) with dist ∈ {0, 1}
    """
    lv = deletion_variants(left_words).withColumnRenamed("w", "w1")
    rv = deletion_variants(right_words).withColumnRenamed("w", "w2")
    cand = lv.join(rv, "v").select("w1", "w2").distinct()
    return cand.select(
        "w1", "w2", F.levenshtein("w1", "w2").alias("dist")
    ).filter(F.col("dist") <= 1)


def kcore_nodes(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 3,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Fixed-round k-core peel over an undirected pair set →
    (doc_id, degree) for nodes surviving `rounds` peels, with their
    degree in the final subgraph.

    k-core (Seidman) finds the DENSE heart of the near-dup graph —
    boilerplate families and template farms sit in high cores, while
    incidental one-off matches peel away as degree-<k leaves. Each
    round recomputes degrees and drops nodes below k; the true core is
    the fixpoint, and a FIXED round count keeps the operator
    oracle-replayable (the DuckDB side unrolls the identical rounds —
    the kmeans fixed-iteration convention). On fixture-sized graphs
    the peel converges within the default rounds; at lake scale raise
    `rounds` or iterate driver-side on the converged==previous count.

    Scale shape: per round, one degree aggregation (edge-width) plus
    two semi-joins (edges against surviving nodes). Edges localCheckpoint
    per round — each round's edge set feeds three consumers and is
    candidate-pair sized, orders of magnitude under the corpus.
    """
    if k < 1 or rounds < 1:
        raise ValueError(f"need k >= 1 and rounds >= 1; got ({k}, {rounds})")
    edges = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).transform(materialize)

    def degrees(e: DataFrame) -> DataFrame:
        ends = e.select(F.col("a").alias("n")).unionByName(
            e.select(F.col("b").alias("n"))
        )
        return ends.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))

    for _ in range(rounds):
        keep = degrees(edges).filter(F.col("deg") >= k).select("n")
        edges = (
            edges.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .transform(materialize)
        )

    return degrees(edges).select(
        F.col("n").alias("doc_id"), F.col("deg").cast("long").alias("degree")
    )


def dedup_token_savings(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source accounting of what exact dedup buys → (source,
    n_docs, n_tokens, n_docs_kept, n_tokens_kept, token_savings).

    The budget question every pretraining run asks before paying for
    dedup: how many TOKENS does each source actually contribute after
    exact dedup, and what fraction was duplicate weight? Keep rule is
    global-first (lowest doc id per content hash, the dedup_exact
    convention), so a document syndicated across sources is credited
    to the source that carried its first copy — cross-source duplicate
    mass shows up as the other sources' savings.

    Scale shape: one md5 hash per doc (map-side), one first-per-hash
    aggregation (hash-width shuffle of (md5, id) pairs), a broadcast-
    able join-back of keeper ids, and a source-width rollup. Token
    counts ride the same scan; text never shuffles.
    """
    from data_pipeline2_spark.functions.text import tokens as _tokens

    base = documents.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(source_col).alias("source"),
        F.md5(F.col(text_col)).alias("__h"),
        F.size(_tokens(F.lower(F.col(text_col)))).cast("long").alias("__nt"),
    )
    keepers = (
        base.groupBy("__h").agg(F.min("__id").alias("__kid")).select("__kid")
    )
    return (
        base.join(keepers, base["__id"] == keepers["__kid"], "left_outer")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
            F.sum(
                F.col("__kid").isNotNull().cast("long")
            ).alias("n_docs_kept"),
            F.sum(
                F.when(F.col("__kid").isNotNull(), F.col("__nt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_tokens_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_docs_kept",
            "n_tokens_kept",
            F.round(
                F.lit(1.0) - F.col("n_tokens_kept") / F.col("n_tokens"), 6
            ).alias("token_savings"),
        )
    )
