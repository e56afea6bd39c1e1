"""Round-9e operator tests: t-closeness EMD audit and lag-1
autocorrelation. Value parity vs DuckDB is covered by
test_oracle_parity + the lake gates; these pin semantics on
constructed fixtures. Their exchange budgets are in
test_exchange_budget.py.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from data_pipeline2_spark.operators import aggregates, governance


# ------------------------------------------------------------ t-closeness


def _rows_df(spark, rows):
    return spark.createDataFrame(rows, "rid long, q string, v long")


def _emd_reference(class_counts, global_counts):
    """Textbook ordered-EMD over the global value domain."""
    vals = sorted(global_counts)
    n = sum(class_counts.values())
    nt = sum(global_counts.values())
    m = len(vals)
    acc = p = q = 0
    for v in vals[:-1]:
        p += class_counts.get(v, 0)
        q += global_counts[v]
        acc += abs(p * nt - q * n)
    return acc, acc / ((m - 1) * n * nt) if m > 1 else 0.0


def test_t_closeness_flags_skewed_class(spark):
    # class A: all v=0 (skewed); class B mirrors the global mix
    rows = (
        [(i, "A", 0) for i in range(4)]
        + [(i + 4, "B", 0) for i in range(3)]
        + [(i + 7, "B", 1) for i in range(2)]
    )
    out = {
        r["q"]: r.asDict()
        for r in governance.t_closeness_audit(
            _rows_df(spark, rows), ["q"], "v", t=0.2
        ).collect()
    }
    gc = {0: 7, 1: 2}
    num_a, emd_a = _emd_reference({0: 4}, gc)
    num_b, emd_b = _emd_reference({0: 3, 1: 2}, gc)
    assert out["A"]["emd_num"] == num_a
    assert out["B"]["emd_num"] == num_b
    assert out["A"]["emd"] == round(emd_a, 6)
    assert emd_a > emd_b  # the all-one-band class sits farther out
    assert not out["A"]["t_close"] and out["B"]["t_close"]


def test_t_closeness_null_sensitive_excluded(spark):
    rows = [(1, "A", 0), (2, "A", None), (3, "B", 1), (4, "B", 0)]
    out = {
        r["q"]: r.asDict()
        for r in governance.t_closeness_audit(
            _rows_df(spark, rows), ["q"], "v", t=0.9
        ).collect()
    }
    # NULL row drops: class A has n=1, not 2
    assert out["A"]["n"] == 1 and out["B"]["n"] == 2


def test_t_closeness_validates_params(spark):
    df = _rows_df(spark, [(1, "a", 1)])
    with pytest.raises(ValueError, match="quasi-identifier"):
        governance.t_closeness_audit(df, [], "v")
    with pytest.raises(ValueError, match="t must be"):
        governance.t_closeness_audit(df, ["q"], "v", t=0.0)


# ----------------------------------------------------------- autocorr


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, datetime(2024, 1, 1, h), u) for i, (u, h) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long",
    )


def test_lag_autocorr_alternating_series_is_negative_one(spark):
    # user 1: hourly counts 1,3,1,3,1,3 -> perfect anti-correlation
    rows = []
    for h in range(6):
        n = 1 if h % 2 == 0 else 3
        rows += [(1, h)] * n
    out = aggregates.lag_autocorr(_events(spark, rows)).collect()
    r = out[0].asDict()
    assert r["n_pairs"] == 5
    assert r["autocorr"] == -1.0


def test_lag_autocorr_constant_series_is_null(spark):
    rows = [(1, h) for h in range(5)]  # count 1 every hour
    r = aggregates.lag_autocorr(_events(spark, rows)).collect()[0]
    assert r["n_pairs"] == 4 and r["autocorr"] is None
    assert r["num_scaled"] == 0


def test_lag_autocorr_gaps_break_pairs(spark):
    # hours 0,1 then 3,4: only two consecutive pairs, below min_pairs=3
    rows = [(1, 0), (1, 1), (1, 3), (1, 4), (1, 4)]
    r = aggregates.lag_autocorr(_events(spark, rows)).collect()[0]
    assert r["n_pairs"] == 2
    assert r["autocorr"] is None  # under min_pairs


def test_lag_autocorr_validates_min_pairs(spark):
    with pytest.raises(ValueError, match="min_pairs"):
        aggregates.lag_autocorr(_events(spark, [(1, 0)]), min_pairs=1)


# --------------------------------------------------------- curriculum


def test_curriculum_easy_docs_lead_and_order_is_deterministic(spark):
    from data_pipeline2_spark.operators.sampling import curriculum_order

    rows = (
        [(i, "go to it on my " * 4) for i in range(4)]         # short words
        + [(10 + i, "medium words truly here " * 4) for i in range(4)]
        + [(20 + i, "extraordinarily sesquipedalian " * 4) for i in range(4)]
        + [(30, None), (31, "   ")]                            # dropped
    )
    docs = spark.createDataFrame(
        [(d, t.strip() if t else t) for d, t in rows],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in curriculum_order(docs, n_shards=2).collect()
    }
    assert 30 not in out and 31 not in out
    assert all(out[i]["stage"] == 1 for i in range(4))
    assert all(out[10 + i]["stage"] == 2 for i in range(4))
    assert all(out[20 + i]["stage"] == 3 for i in range(4))
    # deterministic: a second run is row-identical
    out2 = {
        r["doc_id"]: r.asDict()
        for r in curriculum_order(docs, n_shards=2).collect()
    }
    assert out == out2
    # seq is 1..n within each (stage, shard)
    from collections import defaultdict

    groups = defaultdict(list)
    for r in out.values():
        groups[(r["stage"], r["shard"])].append(r["seq"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in groups.values())


def test_curriculum_salt_reshuffles_within_stage(spark):
    from data_pipeline2_spark.operators.sampling import curriculum_order

    docs = spark.createDataFrame(
        [(i, "uniform words here") for i in range(40)],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: (r["stage"], r["shard"], r["seq"])
         for r in curriculum_order(docs, n_shards=1).collect()}
    b = {r["doc_id"]: (r["stage"], r["shard"], r["seq"])
         for r in curriculum_order(docs, n_shards=1, salt="ep1").collect()}
    # same stages (difficulty unchanged), different within-stage order
    assert all(a[d][0] == b[d][0] for d in a)
    assert any(a[d][2] != b[d][2] for d in a)


def test_curriculum_validates_params(spark):
    from data_pipeline2_spark.operators.sampling import curriculum_order

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_stages"):
        curriculum_order(docs, n_stages=1)
    with _pytest.raises(ValueError, match="n_shards"):
        curriculum_order(docs, n_shards=0)


# ------------------------------------------------- stream tumbling upsert


def test_stream_tumbling_upsert_cumulative_across_batches(spark, tmp_path):
    """One window's events spread across all three micro-batch files:
    the final MERGEd count must be the cumulative total (update-mode
    rows overwrite), not any single batch's contribution — the property
    that makes the streaming table equal the batch GROUP BY."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline2_spark.streaming import events as sev

    rows = [(i, datetime(2024, 1, 1, 5), "view") for i in range(6)]
    rows += [(6, datetime(2024, 1, 1, 7), "click")]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    feed = os.path.join(str(tmp_path), "feed")
    table = os.path.join(str(tmp_path), "table")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    for p in range(3):
        ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == p).coalesce(
            1
        ).write.mode("append").parquet(feed)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("wstart"),
            "event_type",
            "n_events",
            F.lit("U").alias("op"),
            F.lit(0).cast("long").alias("change_ts"),
        )
    )
    q = sev.upsert_sink(
        agg, table, ckpt, ["wstart", "event_type"], output_mode="update"
    )
    q.awaitTermination()
    out = {
        (r["wstart"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(table).collect()
    }
    assert out[(datetime(2024, 1, 1, 5), "view")] == 6  # cumulative, not 2
    assert out[(datetime(2024, 1, 1, 7), "click")] == 1
    assert len(out) == 2


# ------------------------------------------------------------ kneser-ney


def test_kneser_ney_levels_and_exact_terms(spark):
    """train (even id): 'a b a b a c' -> bigrams (a,b)x2 (b,a)x2 (a,c)x1
    T=3 types, V=3 vocab; held (odd id): 'a b x' exercises the seen
    bigram and the seen-context/unseen-word branch; 'x y' (doc 3) the
    unseen-context branch."""
    import math

    from data_pipeline2_spark.operators import quality

    docs = spark.createDataFrame(
        [(0, "a b a b a c"), (1, "a b x"), (3, "x y")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in quality.kneser_ney_logprob(docs).collect()
    }
    T, V = 3, 3

    def pc(nb):
        return (nb + 1) / (T + V + 1)

    def p_seen(c12, c1, nfw, nb):
        return (max(c12 - 0.75, 0.0) + 0.75 * nfw * pc(nb)) / c1

    def term(p):
        return math.floor(math.log(p) * quality._LOGPROB_SCALE)

    r1 = out[1]
    assert r1["n_bigrams"] == 2
    assert (r1["hits_bigram"], r1["hits_context"], r1["misses"]) == (1, 1, 0)
    expected = term(p_seen(2, 3, 2, 1)) + term(p_seen(0, 2, 1, 0))
    assert r1["logprob_sum_scaled"] == expected
    r3 = out[3]
    assert (r3["hits_bigram"], r3["hits_context"], r3["misses"]) == (0, 0, 1)
    assert r3["logprob_sum_scaled"] == term(pc(0))


def test_kneser_ney_continuation_beats_raw_frequency(spark):
    """The KN signature: a word frequent after ONE history only (low
    continuation count) scores BELOW a word seen after many histories,
    even at equal unigram frequency — the 'san francisco' effect."""
    from data_pipeline2_spark.operators import quality

    # train: 'q' appears 4x, always after 'san'; 'the' appears 4x after
    # 4 different histories. held doc: both words after the UNSEEN
    # context 'zz' -> scored purely by continuation probability.
    docs = spark.createDataFrame(
        [
            (0, "san q san q san q san q"),
            (2, "u the v the w the x the"),
            (1, "zz the"),
            (3, "zz q"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in quality.kneser_ney_logprob(docs).collect()
    }
    assert out[1]["logprob_sum_scaled"] > out[3]["logprob_sum_scaled"]


def test_t_closeness_single_value_domain_keeps_classes(spark):
    """Review r9s3 finding: with ONE distinct sensitive value the audit
    must still emit every class (EMD = 0 by definition), not an empty
    frame."""
    rows = [(1, "A", 7), (2, "A", 7), (3, "B", 7)]
    out = {
        r["q"]: r.asDict()
        for r in governance.t_closeness_audit(
            _rows_df(spark, rows), ["q"], "v", t=0.2
        ).collect()
    }
    assert set(out) == {"A", "B"}
    assert all(r["emd"] == 0.0 and r["t_close"] for r in out.values())
    assert out["A"]["n"] == 2 and out["B"]["n"] == 1


def test_stream_tumbling_upsert_null_key_spanning_batches(spark, tmp_path):
    """Review r9s3 finding: NULL event_type rows in one hour window
    spread across micro-batches must MERGE into ONE row with the total
    (merge_upsert's key equality is null-unsafe; the registry callable
    sentinel-coalesces the MERGE keys). Exercised via the registry
    callable against a constructed lake."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(i, datetime(2024, 1, 1, 5), None) for i in range(6)]
    rows += [(6, datetime(2024, 1, 1, 5), "view")]
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype(
                "datetime64[ns]"
            ),
            "user_id": [r[0] for r in rows],
            "event_type": [r[2] for r in rows],
            "value": [float(r[0]) for r in rows],
            "props": [r[2] for r in rows],
        }
    )
    lake = os.path.join(str(tmp_path), "lake")
    os.makedirs(lake)
    # TIMESTAMP(NANOS), matching the driver testdata's events layout
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(lake, "events.parquet"),
        use_deprecated_int96_timestamps=False,
        coerce_timestamps=None,
    )
    from data_pipeline2_spark import registry

    out = registry.queries()["stream_tumbling_upsert"](spark, lake)
    rows = {(r["wstart"], r["event_type"]): r["n_events"]
            for r in out.collect()}
    assert rows[(datetime(2024, 1, 1, 5), None)] == 6  # ONE merged row
    assert rows[(datetime(2024, 1, 1, 5), "view")] == 1
    assert len(rows) == 2


# ---------------------------------------------------------------- zipf


def test_zipf_fit_matches_numpy_reference_and_guards(spark):
    import math

    from data_pipeline2_spark.operators import textanalysis

    # source 'z': frequencies 8,4,2,1 -> clean log-log line, slope < 0
    words = []
    for w, n in [("aa", 8), ("bb", 4), ("cc", 2), ("dd", 1)]:
        words += [w] * n
    rows = [(1, "z", " ".join(words)), (2, "one", "solo")]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["source"]: r.asDict()
        for r in textanalysis.zipf_fit(docs).collect()
    }
    z = out["z"]
    assert z["n_ranks"] == 4
    # reference OLS over the identical integerized points
    xs = [math.floor(math.log(r) * 1e6) for r in (1, 2, 3, 4)]
    ys = [math.floor(math.log(c) * 1e6) for c in (8, 4, 2, 1)]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    num, denx, deny = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
    slope = num / denx
    assert z["slope"] == round(slope, 6)
    assert z["slope"] < -0.9  # a 2x-per-rank decay is steeper than zipf
    assert z["intercept"] == round((sy - slope * sx) / n / 1e6, 6)
    assert z["r2"] == round(num * num / (denx * deny), 6)
    assert z["r2"] > 0.9
    # single-rank source: row kept, fit columns NULL
    one = out["one"]
    assert one["n_ranks"] == 1
    assert one["slope"] is None and one["r2"] is None


def test_zipf_fit_validates_params(spark):
    from data_pipeline2_spark.operators import textanalysis

    docs = spark.createDataFrame(
        [(1, "s", "a")], "doc_id long, source string, text string"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="top_ranks"):
        textanalysis.zipf_fit(docs, top_ranks=1)


# ------------------------------------------------------------ texttiling


def test_texttiling_finds_the_topic_shift(spark):
    from data_pipeline2_spark.operators import textanalysis

    # 6 pseudo-sentences of 10 tokens: first 3 in vocabulary A, last 3
    # in vocabulary B -> the only real topic shift sits at gap 3
    sent_a = "alpha beta gamma delta epsilon " * 2
    sent_b = "omega psi chi phi upsilon " * 2
    text = (sent_a * 3 + sent_b * 3).strip()
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = textanalysis.texttiling_boundaries(docs).collect()[0].asDict()
    assert r["n_gaps"] == 3  # gaps 2, 3, 4 (b=2 on each side)
    assert r["n_boundaries"] == 1
    assert r["boundary_gap_sum"] == 3 and r["boundary_gap_sq_sum"] == 9
    assert r["max_depth_scaled"] > 0


def test_texttiling_homogeneous_doc_has_no_boundary(spark):
    from data_pipeline2_spark.operators import textanalysis

    docs = spark.createDataFrame(
        [(1, ("same words again here now " * 12).strip()), (2, "short")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in textanalysis.texttiling_boundaries(docs).collect()
    }
    assert out[1]["n_boundaries"] == 0 and out[1]["max_depth_scaled"] == 0
    assert 2 not in out  # under 2*b pseudo-sentences -> no gaps


def test_texttiling_validates_params(spark):
    from data_pipeline2_spark.operators import textanalysis

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must all be >= 1"):
        textanalysis.texttiling_boundaries(docs, sent_tokens=0)


# ---------------------------------------------------------------- heaps


def test_heaps_fit_power_law_recovered(spark):
    """A corpus whose vocabulary genuinely grows sublinearly: doc i
    introduces fewer new words as i rises. beta must land in (0, 1)
    with a decent fit, and the totals must be exact."""
    import itertools

    from data_pipeline2_spark.operators import textanalysis

    vocab_pool = [f"w{i}" for i in range(200)]
    rows = []
    rng = itertools.cycle(vocab_pool)
    for d in range(20):
        # each doc: 30 tokens drawn from the first (d+1)*10 pool words
        pool = vocab_pool[: (d + 1) * 10]
        toks = [pool[(j * 7 + d) % len(pool)] for j in range(30)]
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = textanalysis.heaps_fit(docs).collect()[0].asDict()
    assert r["n_tokens_total"] == 600
    assert 0 < r["beta"] < 1
    assert r["r2"] > 0.8
    assert r["n_checkpoints"] >= 3


def test_heaps_fit_validates_params(spark):
    from data_pipeline2_spark.operators import textanalysis

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_checkpoints"):
        textanalysis.heaps_fit(docs, n_checkpoints=2)


# ------------------------------------------------------------- phonetic


def test_soundex_textbook_values(spark):
    from pyspark.sql import functions as F

    from data_pipeline2_spark.operators import textanalysis

    # the canonical published test vectors (Russell / ANSI / NARA)
    cases = {
        "robert": "R163",
        "rupert": "R163",
        "ashcraft": "A261",   # s,c merge ACROSS the dropped h
        "tymczak": "T522",
        "pfister": "P236",    # adjacent equal codes collapse, then drop
        "honeyman": "H555",
        "lloyd": "L300",
        "wu": "W000",         # h/w-initial words contribute no code
        "smith": "S530",
        "smyth": "S530",
    }
    df = spark.createDataFrame([(w,) for w in cases], "w string")
    out = {
        r["w"]: r["sx"]
        for r in df.select(
            "w", textanalysis.soundex(F.col("w")).alias("sx")
        ).collect()
    }
    assert out == cases


def test_phonetic_groups_flag_sound_alikes(spark):
    from data_pipeline2_spark.operators import textanalysis

    docs = spark.createDataFrame(
        [(1, "smith smith smyth"), (2, "unique wordhere x9bad")],
        "doc_id long, text string",
    )
    out = {
        r["soundex"]: r.asDict()
        for r in textanalysis.phonetic_vocab_groups(docs).collect()
    }
    g = out["S530"]
    assert g["variant_candidate"] and g["n_variants"] == 2
    assert g["total_occurrences"] == 3
    assert g["variants_sample"] == "smith|smyth"  # count-desc order
    # non-alphabetic token excluded entirely
    assert all("x9bad" not in r["variants_sample"] for r in out.values())
    # singleton buckets ship unflagged
    assert any(not r["variant_candidate"] for r in out.values())


def test_phonetic_validates_params(spark):
    from data_pipeline2_spark.operators import textanalysis

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_variants"):
        textanalysis.phonetic_vocab_groups(docs, min_variants=1)
    with pytest.raises(ValueError, match="sample_n"):
        textanalysis.phonetic_vocab_groups(docs, sample_n=0)


# ------------------------------------------------------------- datasheet


def test_corpus_datasheet_census_values(spark):
    import math

    from data_pipeline2_spark.operators import curation

    rows = [
        (1, "a b c", "en"),        # 3 tokens
        (2, "a b c", "en"),        # exact duplicate of doc 1
        (3, "d d", "de"),          # 2 tokens, d repeats (not hapax)
        (4, None, "en"),           # NULL text
        (5, "   ", None),          # blank, NULL lang (a real category)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    r = curation.corpus_datasheet(docs).collect()[0].asDict()
    assert r["n_docs"] == 5 and r["n_null_text"] == 1 and r["n_blank"] == 1
    assert r["n_tokens"] == 8  # 3 + 3 + 2 over the non-null texts
    # vocab over non-null texts: a b c d -> 4 words; a,b,c hapax? a,b,c
    # each occur twice (docs 1+2), d twice -> hapax 0
    assert r["vocab_size"] == 4 and r["hapax_frac"] == 0.0
    # dup fraction: docs 1+2 share a sha -> 2 of 4 non-null docs
    assert r["dup_doc_frac"] == 0.5
    # langs: en(3), de(1), NULL(1) -> 3 categories
    assert r["n_langs"] == 3
    exp_entropy = -(
        math.floor(math.log(3 / 5) * 1e10) * 3
        + math.floor(math.log(1 / 5) * 1e10) * 1
        + math.floor(math.log(1 / 5) * 1e10) * 1
    ) / 1e10 / 5
    assert r["lang_entropy"] == round(exp_entropy, 6)
    # token percentiles over docs WITH text: [3, 3, 2, 0]
    assert r["p50_tokens"] == 2.5 and r["mean_tokens"] == 2.0


def test_corpus_datasheet_empty_lake_row(spark):
    from data_pipeline2_spark.operators import curation

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    r = curation.corpus_datasheet(docs).collect()[0].asDict()
    assert r["n_docs"] == 0 and r["n_tokens"] == 0
    assert r["mean_tokens"] is None and r["dup_doc_frac"] == 0.0
