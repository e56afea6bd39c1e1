"""Registry-wide guard against VACUOUS oracle greens (VERDICT r7
item 1): a key whose oracle returns 0 rows at the driver's gate SF
"passes" the value-hash comparison by matching two empty frames —
which proves nothing about the operator. `events_kaplan_meier` did
exactly this in rounds 5–7 (its 3-calendar-day churn horizon censored
every user at every SF), and it was the only key across seven rounds
to ever return 0 rows; this test keeps it that way.

DuckDB-only on purpose: the point is the ORACLE's row count at
sf0.01 (the driver gate SF, independent of SPARK_GRAFT_TEST_SF), and
skipping Spark keeps the whole 260+-key sweep to seconds. Spark-side
value parity is pinned separately by tests/test_oracle_parity.py.

Known asymmetry (audited r8): exactly one key, q11_important_stock,
is empty at sf0.001 — its TPC-H value-fraction threshold admits no
part at that tiny SF, so ITS 0.001-parity row is vacuous — but it is
non-empty here at the gate SF where the driver actually verifies it.
The threshold is part of q11's exported semantics; do not tune it to
make a fixture happy.
"""

from __future__ import annotations

import duckdb
import pytest

from data_pipeline2_spark import registry

SF_GATE = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

SPECS = [q for q in registry._QUERIES if q.sql is not None]

# Oracles whose DuckDB runtime at sf0.01 dwarfs the rest of the sweep
# combined (knn_batch_lsh's probe alone takes ~55 s; the other keys
# total ~30 s). For these, non-emptiness is asserted from the DRIVER'S
# OWN latest CORRECTNESS_r*.json row — the driver already ran the full
# oracle at the gate SF and recorded oracle_rows, so re-running it here
# would prove nothing new at several times the suite cost.
SLOW_ORACLES = {"knn_batch_lsh": 55}  # measured sec


def _latest_driver_oracle_rows(name: str):
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in sorted(
        glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), reverse=True
    ):
        row = json.load(open(path)).get(name)
        if row is not None and row.get("oracle_rows") is not None:
            return path, row["oracle_rows"]
    return None, None


@pytest.fixture(scope="module")
def duck_gate():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_GATE}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_oracle_nonempty_at_gate_sf(spec, duck_gate):
    if spec.name in SLOW_ORACLES:
        path, n = _latest_driver_oracle_rows(spec.name)
        if path is None:
            pytest.skip(
                f"{spec.name}: no driver CORRECTNESS artifact yet — "
                f"first driver round will record oracle_rows"
            )
        assert n >= 1, (
            f"{spec.name}: latest driver record {path} shows an EMPTY "
            f"oracle at the gate SF"
        )
        return
    # EXISTS-style probe: LIMIT 1 inside lets DuckDB stop at the first
    # produced row where the plan allows (blocking aggregations still
    # run to completion, which is why SLOW_ORACLES are exempt).
    n = duck_gate.sql(
        f"SELECT count(*) FROM (SELECT 1 FROM ({spec.sql}) LIMIT 1)"
    ).fetchone()[0]
    assert n >= 1, (
        f"{spec.name}: oracle returns 0 rows at the gate SF — a driver "
        f"green row for this key would compare two empty frames and "
        f"prove nothing (the events_kaplan_meier r7 failure class). "
        f"Widen the key's parameters until sf0.01 yields rows."
    )
