"""bench.py stdout contract (VERDICT r11 finding 1).

The single JSON stdout line once outgrew a 2000-char tail capture and
the recorded artifact lost its headline value and 13 medians. These
tests pin the fix without a SparkSession: the compact stdout line stays
under the capture budget and degrades field-by-field instead of
truncating mid-JSON.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
import bench  # noqa: E402

# driver-certification tier (see pytest.ini): -m driver selects the
# fast oracle/contract subset the verify harness runs each round
pytestmark = pytest.mark.driver


def _full_record(nq=20):
    qs = {f"some_longish_query_name_{i:02d}": 1.234 for i in range(nq)}
    return {
        "metric": "headline_total_wall",
        "value": round(sum(qs.values()), 3),
        "unit": "sec",
        "queries": qs,
        "queries_min": {k: v * 0.9 for k, v in qs.items()},
        "noise": {
            "passes": 5,
            "stat": "median",
            "iqr_pct": {k: 10.0 for k in qs},
            "max_iqr_pct": 43.4,
        },
        "sf": 0.1,
        "table_cache_warm": True,
        "cold_value": 28.5,
        "queries_cold": {k: v * 1.1 for k, v in qs.items()},
        "pass_totals": [30.1, 29.2, 29.3, 29.9, 30.0],
    }


def test_compact_line_fits_capture_window():
    line = bench._compact_line(_full_record())
    assert len(line) <= 1800
    out = json.loads(line)
    # The essentials survive compaction at today's headline count.
    assert out["value"] > 0 and out["sf"] == 0.1
    assert len(out["queries"]) == 20
    assert out["noise"]["max_iqr_pct"] == 43.4
    # Bulk fields stay OUT of stdout (they live in BENCH_FULL_LATEST).
    for bulky in ("queries_min", "queries_cold", "pass_totals"):
        assert bulky not in out
    assert "iqr_pct" not in out["noise"]


def test_compact_line_degrades_not_truncates():
    # Pathological growth: 200 queries would blow the window; the line
    # must drop whole fields and stay valid JSON under budget.
    line = bench._compact_line(_full_record(nq=200))
    assert len(line) <= 1800
    out = json.loads(line)
    assert out["value"] > 0  # headline always survives
    assert "queries" not in out  # dropped first, as documented
