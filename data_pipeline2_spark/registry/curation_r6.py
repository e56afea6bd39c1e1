"""Round-6 registry keys: corpus-curation and lake-maintenance
operators that extend SURVEY §2.10's north-star scope —
cross-document boilerplate stripping, a real unigram-LM quality score
(integer-exact log-probs), URL canonicalization, asymmetric-containment
dedup, leakage-safe cluster-aware splits, incremental view maintenance
over CDC, Z-order layout statistics, and perceptual image hashing over
the real pixel decoders.

Reference parity note: none of these exist in the reference service
(solaius/data_pipeline2 is an ingest/search API); they are the
training-data-pipeline surface the brief mandates as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline2_spark.operators import dedup, joins, multimodal, quality
from data_pipeline2_spark.operators.quality import _LOGPROB_SCALE
from data_pipeline2_spark.plans.zorder import zorder_key
from data_pipeline2_spark.registry._core import _register, _t
from data_pipeline2_spark.registry.analytics_ext import _TOKS_SH_CTES
from data_pipeline2_spark.registry.curation_r5 import (
    _CDC_BASE_CHANGES_CTES,
    _CDC_MERGED_SELECT,
    _NONBLANK_LINES,
    _WS_LOWER,
    _cdc_base_changes,
    _md5_60,
)
from data_pipeline2_spark.registry.ingest_chunk import (
    _jaccard_verify_ctes,
    _lsh_bands_cand_ctes,
    _minhash_mh_ctes,
)

# ---------------------------------------------------------------- text


@_register(
    "strip_boilerplate",
    f"""
    WITH lns AS (
      SELECT doc_id, source,
             unnest(list_transform({_NONBLANK_LINES}, x -> trim(x, ' '))) AS line
      FROM documents WHERE text IS NOT NULL
    ), hashed AS (
      SELECT doc_id, source, {_md5_60('line')} AS line_h,
             len(line)::BIGINT AS line_len
      FROM lns
    ), boiler AS (
      SELECT source, line_h FROM (
        SELECT source, line_h, count(DISTINCT doc_id) AS nd
        FROM hashed GROUP BY source, line_h) WHERE nd >= 2
    )
    SELECT h.doc_id, count(*)::BIGINT AS n_lines,
           sum(CASE WHEN b.line_h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_boiler,
           sum(h.line_len)::BIGINT AS chars_total,
           sum(CASE WHEN b.line_h IS NULL THEN h.line_len ELSE 0 END)::BIGINT
             AS chars_kept
    FROM hashed h LEFT JOIN boiler b
      ON b.source = h.source AND b.line_h = h.line_h
    GROUP BY h.doc_id
    """,
)
def q_strip_boilerplate(spark, sf_dir):
    """Cross-document boilerplate-line removal report: a line repeated
    in >= 2 distinct docs of the same source is boilerplate (nav/footer
    signature); per doc, how many lines/chars survive the strip."""
    return quality.strip_boilerplate_stats(
        _t(spark, sf_dir, "documents"), min_docs=2
    )


@_register(
    "unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WS_LOWER}) AS w
      FROM documents WHERE text IS NOT NULL
    ), counts AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT sum(c) AS total FROM counts),
    terms AS (
      SELECT doc_id,
             CAST(floor(ln(c::DOUBLE / total::DOUBLE)
                        * {float(_LOGPROB_SCALE)}) AS BIGINT) AS term
      FROM toks JOIN counts USING (w) CROSS JOIN tot
    )
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(term)::BIGINT AS logprob_sum_scaled,
           round(sum(term) / {float(_LOGPROB_SCALE)} / count(*), 6)
             AS avg_logprob
    FROM terms GROUP BY doc_id
    """,
)
def q_unigram_logprob(spark, sf_dir):
    """Real unigram-LM document scoring (perplexity ∝ exp(-avg)):
    the float log-sum is integerized per term (floor at 1e10) so the
    aggregation is associative and partition-order-free — the exact
    version of what token_rarity's freq_sum stood in for."""
    return quality.unigram_logprob(_t(spark, sf_dir, "documents"))


# Deterministic URL fixture: each doc emits TWO variants of one
# logical page (page key = source x doc_id % 13) differing in host
# case, www., tracking params, and fragment; canonicalization must
# collapse them — docs sharing a page key collapse further. The oracle
# derives the EXPECTED canonical form independently (closed form), not
# by replaying the regex chain — a stronger check than string-op
# parity.
def _fixture_urls() -> F.Column:
    d = F.col("doc_id")
    page = (d % 13).cast("string")
    v1 = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".Example.COM/p/"),
        page,
        F.lit("?utm_source=feed&ref="),
        (d % 3).cast("string"),
        F.lit("#sec"),
        (d % 5).cast("string"),
    )
    v2 = F.concat(
        F.lit("HTTPS://"),
        F.col("source"),
        F.lit(".example.com/p/"),
        page,
        F.lit("?utm_campaign=x"),
    )
    return F.array(v1, v2)


@_register(
    "url_canonicalize",
    """
    SELECT 'https://' || source || '.example.com/p/' || (doc_id % 13)
             AS canon_url,
           count(*)::BIGINT AS n_urls, min(doc_id) AS keep_id
    FROM documents CROSS JOIN (VALUES (1), (2)) v(variant)
    GROUP BY 1
    """,
)
def q_url_canonicalize(spark, sf_dir):
    """URL-level exact dedup: lowercase scheme+host, strip www./
    fragment/tracking params, collapse variants to one group with a
    keeper — the pre-fetch dedup pass of a crawl pipeline. Every group
    collapses >= 2 variant URLs (and docs sharing a page key collapse
    further), so the regex chain is load-bearing for the hash."""
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id", F.explode(_fixture_urls()).alias("url")
    )
    return quality.url_canonical_groups(urls)


# --------------------------------------------------------------- dedup

_CONTAIN_T = 0.6


@_register(
    "dedup_containment",
    f"""
    WITH {_TOKS_SH_CTES}, {_minhash_mh_ctes()}, {_lsh_bands_cand_ctes()},
    {_jaccard_verify_ctes(0.5)}
    SELECT i.doc_a, i.doc_b,
           ca.n_sh::BIGINT AS n_a, cb.n_sh::BIGINT AS n_b,
           n_inter::BIGINT AS n_inter,
           round(n_inter / ca.n_sh, 6) AS containment_a,
           round(n_inter / cb.n_sh, 6) AS containment_b
    FROM inter i JOIN counts ca ON ca.doc_id = i.doc_a
                 JOIN counts cb ON cb.doc_id = i.doc_b
    WHERE greatest(round(n_inter / ca.n_sh, 6),
                   round(n_inter / cb.n_sh, 6)) >= {_CONTAIN_T}
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Subset-duplicate pairs by asymmetric shingle containment — the
    quote/boilerplate-embedding signal Jaccard misses (containment_a =
    |A∩B|/|A| ~ 1.0 for A embedded in B regardless of |B|)."""
    return dedup.dedup_containment(
        _t(spark, sf_dir, "documents"), threshold=_CONTAIN_T
    )


@_register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_TOKS_SH_CTES}, {_minhash_mh_ctes()},
    {_lsh_bands_cand_ctes()}, {_jaccard_verify_ctes(0.5)},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ), clusters AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    ), labeled AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c USING (doc_id)
    ), assigned AS (
      SELECT doc_id, cluster_id,
             CASE WHEN {_md5_60("'split|' || cluster_id::VARCHAR")} % 10 < 8
                  THEN 'train' ELSE 'test' END AS split
      FROM labeled
    ), summary AS (
      SELECT split, count(*)::BIGINT AS n_docs,
             count(DISTINCT cluster_id)::BIGINT AS n_clusters
      FROM assigned GROUP BY split
    ), leaks AS (
      SELECT count(*)::BIGINT AS leak_pairs
      FROM pairs p JOIN assigned a ON a.doc_id = p.doc_a
                   JOIN assigned b ON b.doc_id = p.doc_b
      WHERE a.split <> b.split
    )
    SELECT s.split, s.n_docs, s.n_clusters, l.leak_pairs
    FROM summary s CROSS JOIN leaks l
    """,
)
def q_leakage_safe_split(spark, sf_dir):
    """Cluster-aware train/test split: near-dup clusters split as a
    unit (hash of the CLUSTER id, 80/20), so leak_pairs — near-dup
    pairs straddling splits — is provably 0, checked in-plan."""
    return dedup.leakage_safe_split(_t(spark, sf_dir, "documents"))


# ------------------------------------------------- lake maintenance

_IVM_GRP = 50


@_register(
    "ivm_agg_delta",
    f"""
    WITH {_CDC_BASE_CHANGES_CTES},
    neg AS (
      SELECT b.o_orderkey % {_IVM_GRP} AS grp,
             CAST(-1 AS BIGINT) AS dn, -b.total_cents AS dv
      FROM base b JOIN latest l USING (o_orderkey)
    ), pos AS (
      SELECT o_orderkey % {_IVM_GRP} AS grp,
             CAST(1 AS BIGINT) AS dn, total_cents AS dv
      FROM latest WHERE op <> 'D'
    ), delta AS (
      SELECT grp, sum(dn) AS dn, sum(dv) AS dv
      FROM (SELECT * FROM neg UNION ALL SELECT * FROM pos) GROUP BY grp
    ), base_agg AS (
      SELECT o_orderkey % {_IVM_GRP} AS grp, count(*) AS n0,
             sum(total_cents) AS s0
      FROM base GROUP BY 1
    ), maintained AS (
      SELECT grp, coalesce(n0, 0) + coalesce(dn, 0) AS n_rows,
             coalesce(s0, 0) + coalesce(dv, 0) AS val_sum
      FROM base_agg FULL JOIN delta USING (grp)
    ), merged AS ({_CDC_MERGED_SELECT}
    ), recompute AS (
      SELECT o_orderkey % {_IVM_GRP} AS grp, count(*) AS rn,
             sum(total_cents) AS rs
      FROM merged GROUP BY 1
    )
    SELECT grp, coalesce(m.n_rows, 0)::BIGINT AS n_rows,
           coalesce(m.val_sum, 0)::BIGINT AS val_sum,
           (coalesce(m.n_rows, 0) = coalesce(r.rn, 0)
            AND coalesce(m.val_sum, 0) = coalesce(r.rs, 0)) AS consistent
    FROM (SELECT * FROM maintained WHERE n_rows > 0) m
    FULL JOIN recompute r USING (grp)
    """,
)
def q_ivm_agg_delta(spark, sf_dir):
    """Incremental view maintenance: per-group (count, cents sum) over
    orders maintained from the CDC changeset WITHOUT rescanning base
    rows (retract old / insert new deltas), with an in-plan consistency
    check against the full merge_upsert recompute — true everywhere."""
    base, changes = _cdc_base_changes(spark, sf_dir)
    grp = (F.col("o_orderkey") % _IVM_GRP).cast("long")
    return joins.ivm_group_agg(
        base.withColumn("grp", grp),
        changes.withColumn("grp", grp),
        ["o_orderkey"],
        group_col="grp",
        value_col="total_cents",
    )


# 16 interleave bits per dimension: covers user_id < 65536 without
# aliasing (sf0.1 peaks at 1499; the x10 replica at ~15k). 8 bits
# aliased users 256 apart onto one z-value at bench scale, turning the
# "bounded tiles" claim false exactly where it matters — the bit width
# must DOMINATE the key domain, never truncate it (r6 review fix).
_Z_BITS = 16
_Z_FILE_SPAN = 64


def _z_interleave_sql(x: str, y: str, bits: int = _Z_BITS) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(({x} >> {b}) & 1) * {1 << (2 * b)}")
        terms.append(f"(({y} >> {b}) & 1) * {1 << (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"


@_register(
    "zorder_layout",
    f"""
    WITH e AS (
      SELECT user_id::BIGINT AS x,
             date_part('day', ts)::BIGINT - 1 AS y
      FROM events WHERE ts IS NOT NULL
    ), z AS (
      SELECT x, y, {_z_interleave_sql('x', 'y')} AS zv FROM e
    )
    SELECT zv // {_Z_FILE_SPAN} AS file_id, count(*)::BIGINT AS n,
           min(x) AS u_lo, max(x) AS u_hi,
           min(y) AS d_lo, max(y) AS d_hi
    FROM z GROUP BY 1
    """,
)
def q_zorder_layout(spark, sf_dir):
    """Z-order clustering statistics: events keyed by the bit-interleave
    of (user_id, day) and grouped into {_Z_FILE_SPAN}-wide z-ranges
    (file surrogates) — each file's (user, day) min/max spans stay
    BOUNDED SQUARES instead of full-range stripes, which is exactly why
    a z-ordered lake prunes on either column (plans/zorder.py is the
    write path; this key makes its curve oracle-checked)."""
    evt = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    x = F.col("user_id").cast("long")
    y = (F.dayofmonth("ts") - 1).cast("long")
    keyed = evt.select(x.alias("x"), y.alias("y")).withColumn(
        "zv", zorder_key([F.col("x"), F.col("y")], bits=_Z_BITS)
    )
    return keyed.groupBy(
        F.floor(F.col("zv") / _Z_FILE_SPAN).alias("file_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("x").alias("u_lo"),
        F.max("x").alias("u_hi"),
        F.min("y").alias("d_lo"),
        F.max("y").alias("d_hi"),
    )


# ----------------------------------------------------- multimodal

# closed-form replay of the GIF fixture pixels (same dims/index/red
# formulas as the multimodal_decode_gif oracle) expanded to per-pixel
# coordinates for the 8x8 block grid
_AHASH_PX_CTES = """dims AS (
      SELECT doc_id AS asset_id,
             CAST(16 + doc_id % 97 AS INT) AS w,
             CAST(16 + doc_id % 53 AS INT) AS h,
             2 + doc_id % 15 AS n
      FROM documents WHERE doc_id < 120
    ), px AS (
      SELECT asset_id, w, h, p % w AS x, p // w AS y,
             ((2 * (p % w) + (p // w) + asset_id) % n * 41 + asset_id)
               % 256 AS red
      FROM (SELECT asset_id, w, h, n,
                   unnest(generate_series(0, w*h - 1)) AS p
            FROM dims)
    ), blocks AS (
      SELECT asset_id, w, h, (y*8)//h*8 + (x*8)//w AS blk,
             count(*)::BIGINT AS npx, sum(red)::BIGINT AS bsum
      FROM px GROUP BY asset_id, w, h, blk
    ), tot AS (
      SELECT asset_id, sum(bsum) AS tsum, sum(npx) AS tn
      FROM blocks GROUP BY asset_id
    ), bits AS (
      SELECT b.asset_id, b.w, b.h, b.blk,
             CASE WHEN b.bsum * t.tn > t.tsum * b.npx THEN 1 ELSE 0 END
               AS bit
      FROM blocks b JOIN tot t USING (asset_id)
    ), hashes AS (
      SELECT asset_id, CAST(max(w) AS INT) AS width,
             CAST(max(h) AS INT) AS height,
             sum(CASE WHEN blk >= 32 THEN bit::BIGINT << (blk - 32)
                 ELSE 0 END)::BIGINT AS hash_hi,
             sum(CASE WHEN blk < 32 THEN bit::BIGINT << blk
                 ELSE 0 END)::BIGINT AS hash_lo
      FROM bits GROUP BY asset_id
    )"""


@_register(
    "image_ahash",
    f"""
    WITH {_AHASH_PX_CTES}
    SELECT asset_id, width, height, hash_hi, hash_lo FROM hashes
    """,
)
def q_image_ahash(spark, sf_dir):
    """Perceptual average-hash over REAL decoded GIF pixels (LZW +
    palette chain), 8x8 integer block grid, bits as exact
    cross-multiplied comparisons — the image near-dup fingerprint,
    value-checked end-to-end against closed-form fixture pixels."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return multimodal.image_ahash(multimodal.gif_assets(docs), codec="gif")


# r7 (VERDICT r6 item 1): threshold tightened from 24 into the banded
# join's pigeonhole-complete regime (d <= bands-1 = 7) so the exported
# plan is the scale-safe band equi-join AND still value-identical to
# the all-pairs oracle. Recall beyond the complete regime is measured
# by image_ahash_band_eval (curation_r7.py).
_AHASH_MAX_HAMMING = 7


@_register(
    "image_ahash_pairs",
    f"""
    WITH {_AHASH_PX_CTES}
    SELECT a.asset_id AS id_a, b.asset_id AS id_b,
           CAST(bit_count(xor(a.hash_hi, b.hash_hi))
                + bit_count(xor(a.hash_lo, b.hash_lo)) AS INT) AS hamming
    FROM hashes a JOIN hashes b ON a.asset_id < b.asset_id
    WHERE bit_count(xor(a.hash_hi, b.hash_hi))
          + bit_count(xor(a.hash_lo, b.hash_lo)) <= {_AHASH_MAX_HAMMING}
    """,
)
def q_image_ahash_pairs(spark, sf_dir):
    """Near-duplicate image pairs by aHash Hamming distance — the
    image-dedup application of image_ahash. The Spark side runs the
    banded 8x8-bit LSH equi-join (no CartesianProduct, plan-asserted);
    at max_hamming=7 the banding is pigeonhole-complete, so the
    all-pairs DuckDB oracle above is value-identical."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    hashes = multimodal.image_ahash(
        multimodal.gif_assets(docs), codec="gif"
    )
    return multimodal.ahash_dup_pairs(hashes, max_hamming=_AHASH_MAX_HAMMING)
