#!/usr/bin/env python3
"""Time specific registry keys (warm, N reps, median) — the A/B
harness. Run alternately from a baseline checkout and the working
tree in the same machine window for a same-window A/B pair.

Usage: python scripts/time_keys.py <sf_dir> <reps> key [key ...]
Prints one line per key: median + all rep times.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline2_spark import registry  # noqa: E402
from data_pipeline2_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2])
    keys = sys.argv[3:]
    os.environ.setdefault("SPARK_GRAFT_TABLE_CACHE", "1")
    spark = get_spark("time-keys")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()
    # warm-up pass (JIT/codegen + table cache)
    for k in keys:
        qmap[k](spark, sf_dir).count()
    samples: dict[str, list[float]] = {k: [] for k in keys}
    for _ in range(reps):
        for k in keys:
            spark.sparkContext.setJobDescription(f"ab: {k}")
            t0 = time.perf_counter()
            qmap[k](spark, sf_dir).count()
            samples[k].append(round(time.perf_counter() - t0, 3))
    for k in keys:
        s = sorted(samples[k])
        med = s[len(s) // 2] if len(s) % 2 else (s[len(s)//2-1] + s[len(s)//2]) / 2
        print(f"{k}: median={med:.3f}s reps={samples[k]}")


if __name__ == "__main__":
    main()
