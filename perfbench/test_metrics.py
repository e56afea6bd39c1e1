"""BENCHMARK.json, run.py's MOVES map and README.md name the same metrics.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import os
import re

import run


def _bench():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_moves_cover_exactly_the_per_layer_metrics():
    e2e, per = run.load_metrics()
    assert set(per) == set(run.MOVES)
    assert {"setup_s", "op_p50_ms", "peak_rss_mb"} == set(e2e)


def test_readme_names_every_metric():
    with open(os.path.join(run.HERE, "README.md")) as fh:
        named = set(re.findall(r"`([A-Za-z0-9_.]+)`", fh.read()))
    bench = _bench()
    missing = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]
               if m["name"] not in named]
    assert not missing
