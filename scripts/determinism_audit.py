#!/usr/bin/env python3
"""Cross-session determinism audit over every registered key.

A caller may build its OWN SparkSession (unknown master /
shuffle-partition count), so any key whose values depend on partition
layout — double summation order, unstable top-k ties, Arrow batch
boundaries leaking into results — would pass single-session oracle
parity locally and still go red in that session. This script runs every
registered key under two deliberately different session shapes
(local[4] x 7 shuffle partitions vs local[8] x 13) and compares the
full sorted value sets.

Run: python scripts/determinism_audit.py   (exit 0 = all deterministic)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def _norm(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def _run(master: str, shuffle: int, keys: list[str]) -> dict:
    spark = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName(f"determinism-audit-{shuffle}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from data_pipeline2_spark import registry

    qmap = registry.queries()
    out = {}
    for k in keys:
        try:
            out[k] = _norm(qmap[k](spark, SF).toPandas())
        except Exception as ex:  # surfaced below, audit continues
            out[k] = f"ERROR: {ex}"
    spark.stop()
    return out


def main() -> int:
    from data_pipeline2_spark import registry

    keys = list(registry.queries())
    print(f"# auditing {len(keys)} registered keys", file=sys.stderr)

    a = _run("local[4]", 7, keys)
    b = _run("local[8]", 13, keys)
    bad = []
    for k in keys:
        va, vb = a[k], b[k]
        if isinstance(va, str) or isinstance(vb, str):
            # a key failing under either session is broken, not
            # partition-sensitive — label it so the investigator chases
            # the exception, not shuffle layout
            bad.append(("ERROR", k, str(va)[:150], str(vb)[:150]))
        elif not va.equals(vb):
            bad.append(
                ("NONDETERMINISTIC", k,
                 f"shapes {va.shape} vs {vb.shape}", "value diff")
            )
    if bad:
        for label, k, x, y in bad:
            print(f"{label}: {k} | {x} | {y}")
        return 1
    print(f"ALL {len(keys)} KEYS DETERMINISTIC ACROSS SESSION SHAPES")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
