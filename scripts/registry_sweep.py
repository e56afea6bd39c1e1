#!/usr/bin/env python3
"""Time + plan-audit EVERY registry key (the optimization-round
checklist): per-key wall seconds at a small SF and plan smells
(CartesianProduct, row-at-a-time BatchEvalPython, exchange count,
join strategies) plus the Spark job count per key. Emits one JSON file
sorted by cost so optimization effort lands on the operators that
actually pay.

Usage: python scripts/registry_sweep.py [sf_dir] [out.json]
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline2_spark import registry  # noqa: E402
from data_pipeline2_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/registry_sweep.json"
    os.environ.setdefault("SPARK_GRAFT_TABLE_CACHE", "1")
    spark = get_spark("registry-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()
    st = spark.sparkContext.statusTracker()
    results: dict[str, dict] = {}
    for i, name in enumerate(sorted(qmap)):
        spark.sparkContext.setJobDescription(f"sweep: {name}")
        rec: dict = {}
        try:
            jb = max(st.getJobIdsForGroup() or [0])
            t0 = time.perf_counter()
            df = qmap[name](spark, sf_dir)
            rec["build_s"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            rec["rows"] = df.count()
            rec["exec_s"] = round(time.perf_counter() - t0, 3)
            rec["jobs"] = max(st.getJobIdsForGroup() or [0]) - jb
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
            rec["exchanges"] = len(re.findall(r"\bExchange\b", text))
            rec["reused"] = len(re.findall(r"ReusedExchange", text))
            rec["joins"] = sorted(set(re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)", text)))
            rec["python"] = sorted(set(re.findall(
                r"(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                r"FlatMapGroupsInPandas|MapInArrow)", text)))
            rec["total_s"] = round(rec["build_s"] + rec["exec_s"], 3)
        except Exception as exc:  # keep sweeping
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        results[name] = rec
        t = rec.get("total_s", "ERR")
        print(f"[{i + 1}/{len(qmap)}] {name}: {t}", flush=True)
    ordered = dict(
        sorted(
            results.items(),
            key=lambda kv: -(kv[1].get("total_s") or 0.0),
        )
    )
    with open(out_path, "w") as fh:
        json.dump({"sf_dir": sf_dir, "keys": ordered}, fh, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
