#!/usr/bin/env python3
"""Capture .explain("formatted") for any registry keys.

Usage: python scripts/capture_plans.py <suffix> [query ...]
Writes plans/<query>_<suffix>.txt (suffix = before|after).
With no query list, captures every headline bench query
(bench.HEADLINE); any other key is accepted by registry name.
Compositions execute their eager stage checkpoints during build; the
captured plan is the final (census) frame's.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from data_pipeline2_spark import registry  # noqa: E402
from data_pipeline2_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_TABLE_CACHE", "1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()
    for name in names:
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        df = qmap[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue()
        n_exchange = len(re.findall(r"\bExchange\b", text))
        n_reused = len(re.findall(r"ReusedExchange", text))
        joins = sorted(
            set(
                re.findall(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                    r"BroadcastNestedLoopJoin|CartesianProduct)",
                    text,
                )
            )
        )
        pyev = sorted(
            set(
                re.findall(
                    r"(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                    r"FlatMapGroupsInPandas|MapInArrow)",
                    text,
                )
            )
        )
        header = (
            f"== {name} @ {sf_dir} ==\n"
            f"exchanges={n_exchange} (reused={n_reused}) "
            f"joins={joins or ['none']} python={pyev or ['none']}\n\n"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(header + text)
        print(
            f"{name}: exchanges={n_exchange} reused={n_reused} "
            f"joins={joins or ['none']} python={pyev or ['none']}"
        )


if __name__ == "__main__":
    main()
