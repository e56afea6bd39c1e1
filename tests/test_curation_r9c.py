"""Round-9c operator tests: Count-Min sketch frequency estimation,
intra-document repeated-line stripping, PMI collocation mining.

Value parity vs DuckDB is covered for every key by test_oracle_parity
(and the dirty/empty-lake gates pick the keys up automatically); these
tests pin the SEMANTICS on constructed micro-corpora — the one-sided
CMS error, sketch linearity (mergeability), which line occurrence
survives, which pair PMI ranks first. Their exchange budgets are in
test_exchange_budget.py.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from data_pipeline2_spark.operators import quality, textanalysis


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ------------------------------------------------------------ CMS sketch


def test_cms_exact_when_no_collisions(spark):
    # 3 distinct words, width 1024: overwhelmingly collision-free
    rows = [(1, "apple apple banana"), (2, "apple cherry")]
    out = {
        r["word"]: r.asDict()
        for r in textanalysis.cms_frequency_eval(
            _docs(spark, rows), width=1024, probes=10
        ).collect()
    }
    assert out["apple"]["exact_c"] == 3
    # no collisions at this width/vocab -> estimates exact
    assert all(r["overestimate"] == 0 for r in out.values())
    assert all(r["cms_est"] == r["exact_c"] for r in out.values())


def test_cms_overestimate_is_one_sided_under_forced_collisions(spark):
    # width 2 forces heavy collisions across 10 distinct words: the
    # estimate may inflate but NEVER undercounts (the CMS guarantee)
    rows = [(i, f"w{i} " * (i + 1)) for i in range(10)]
    out = textanalysis.cms_frequency_eval(
        _docs(spark, [(d, t.strip()) for d, t in rows]), width=2, probes=10
    ).collect()
    assert len(out) == 10
    assert all(r["overestimate"] >= 0 for r in out)
    assert any(r["overestimate"] > 0 for r in out)  # collisions happened
    assert all(r["cms_est"] == r["exact_c"] + r["overestimate"] for r in out)


def test_cms_sketch_is_linear_mergeable(spark):
    # sketch(A union B) == cell-wise sum of sketch(A) + sketch(B):
    # the property that lets 100 TB shards sketch independently
    a = _docs(spark, [(1, "x y x"), (2, "z")])
    b = _docs(spark, [(3, "x q q")])
    def cells(df):
        return {
            (r["row_j"], r["bucket"]): r["bucket_count"]
            for r in textanalysis.cms_sketch(df, width=8).collect()
        }
    ca, cb, cu = cells(a), cells(b), cells(a.unionByName(b))
    merged = dict(ca)
    for k, v in cb.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == cu


def test_cms_validates_params(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError, match="depth/width"):
        textanalysis.cms_sketch(df, depth=0)
    with pytest.raises(ValueError, match="depth/width"):
        textanalysis.cms_frequency_eval(df, width=0)


# ------------------------------------------------ strip repeated lines


def test_strip_repeated_lines_keep_first_and_checksum(spark):
    text = "alpha\nbeta\nalpha\ngamma\nbeta"
    out = quality.strip_repeated_lines(_docs(spark, [(1, text)])).collect()
    r = out[0].asDict()
    assert r["n_lines"] == 5 and r["kept_lines"] == 3
    assert r["removed_lines"] == 2
    assert r["chars_removed"] == len("alpha") + len("beta")
    # kept order: alpha(1), beta(2), gamma(3) — position-weighted
    expected = (
        (_h60("alpha") % 2**32) * 1
        + (_h60("beta") % 2**32) * 2
        + (_h60("gamma") % 2**32) * 3
    )
    assert r["kept_checksum"] == expected


def test_strip_repeated_lines_trims_and_skips_blank(spark):
    # "  alpha  " and "alpha" are the same line after the ASCII-space
    # trim; blank / space-only lines are not dedup-eligible
    text = "  alpha  \n\n   \nalpha"
    r = quality.strip_repeated_lines(_docs(spark, [(1, text)])).collect()[0]
    assert r["n_lines"] == 2 and r["kept_lines"] == 1
    assert r["chars_removed"] == len("alpha")


def test_strip_repeated_lines_null_and_blank_docs(spark):
    rows = [(1, None), (2, "   "), (3, "solo")]
    out = {
        r["doc_id"]: r.asDict()
        for r in quality.strip_repeated_lines(_docs(spark, rows)).collect()
    }
    assert 1 not in out  # NULL text emits no row
    assert out[2]["n_lines"] == 0 and out[2]["kept_checksum"] == 0
    assert out[3]["kept_lines"] == 1 and out[3]["removed_lines"] == 0


def test_strip_repeated_lines_counts_codepoints_not_bytes(spark):
    # the dirty-lake divergence class: é is 1 char / 2 bytes
    text = "héllo\nworld\nhéllo"
    r = quality.strip_repeated_lines(_docs(spark, [(1, text)])).collect()[0]
    assert r["chars_removed"] == 5  # codepoints of the removed repeat


# ----------------------------------------------------- PMI collocations


def test_pmi_ranks_exclusive_pair_above_frequent_independent(spark):
    # zig+zag ONLY ever co-occur (5 times, passing the floor); 'the'
    # co-occurs with everything — high count, low PMI
    rows = [(i, "zig zag") for i in range(5)]
    rows += [(10 + i, "the cat") for i in range(5)]
    rows += [(20 + i, "the dog") for i in range(5)]
    out = textanalysis.pmi_collocations(
        _docs(spark, rows), min_pairs=5, top=10
    ).collect()
    assert out, "floor of 5 met by all three pairs"
    by_pair = {(r["w1"], r["w2"]): r for r in out}
    assert ("zag", "zig") in by_pair
    top_row = out[0]
    assert (top_row["w1"], top_row["w2"]) == ("zag", "zig")
    # exact expected value: N_tok=30, N_pairs=15, c=5 each
    exp = math.floor(math.log((5 * 30.0 * 30.0) / (15.0 * 5.0 * 5.0)) * 1e10)
    assert top_row["pmi_scaled"] == exp
    # the 'the' pairs score strictly lower (c_the = 10)
    assert by_pair[("cat", "the")]["pmi_scaled"] < exp


def test_pmi_min_pairs_floor_drops_hapax(spark):
    rows = [(1, "rare pairing"), (2, "common common common common")]
    out = textanalysis.pmi_collocations(
        _docs(spark, rows), min_pairs=2, top=10
    ).collect()
    pairs = {(r["w1"], r["w2"]) for r in out}
    assert ("pairing", "rare") not in pairs  # seen once < floor
    assert ("common", "common") in pairs


@pytest.mark.driver
@pytest.mark.parametrize(
    "op, kwargs, match",
    [
        ("term_cooccurrence", {"window": 0}, "window"),
        ("textrank_terms", {"window": 0}, "window"),
        ("pmi_collocations", {"window": 0}, "window"),
        ("pmi_collocations", {"min_pairs": 0}, "min_pairs"),
    ],
    ids=["cooc-window", "textrank-window", "pmi-window", "pmi-min_pairs"],
)
def test_window_ops_validate_params(spark, op, kwargs, match):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError, match=match):
        getattr(textanalysis, op)(df, **kwargs)
