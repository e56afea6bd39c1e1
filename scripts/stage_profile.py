#!/usr/bin/env python3
"""Per-stage wall profile of the two composed headline queries.

Times each stage frame of training_pipeline_e2e / semantic_search_e2e
in isolation (noop-sink execution per guide §1.4) so optimization
targets the member that actually costs, not the composition label.

Usage: python scripts/stage_profile.py [training|serving] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline2_spark.session import get_spark  # noqa: E402
from data_pipeline2_spark.sources.parquet import load_table  # noqa: E402


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def profile_training(spark, docs) -> dict[str, float]:
    from data_pipeline2_spark.operators import pipeline_e2e

    out: dict[str, float] = {}
    t0 = time.perf_counter()
    frames = pipeline_e2e.training_pipeline_frames(docs)
    out["_build_frames(incl eager ckpts)"] = time.perf_counter() - t0
    for key in ("docs", "s2", "s3", "s4", "s5", "chunks", "final", "checks"):
        spark.sparkContext.setJobDescription(f"profile training:{key}")
        out[key] = _noop(frames[key])
    t0 = time.perf_counter()
    census = pipeline_e2e.census_from_frames(frames)
    census.count()
    out["census(count)"] = time.perf_counter() - t0
    return out


def profile_serving(spark, docs) -> dict[str, float]:
    from data_pipeline2_spark.operators import serving_e2e

    out: dict[str, float] = {}
    t0 = time.perf_counter()
    frames = serving_e2e.semantic_search_frames(docs)
    out["_build_frames(incl eager ckpts)"] = time.perf_counter() - t0
    for key in ("docs", "chunks", "cache", "hits", "pending", "index", "ranked"):
        spark.sparkContext.setJobDescription(f"profile serving:{key}")
        out[key] = _noop(frames[key])
    t0 = time.perf_counter()
    census = serving_e2e.census_from_frames(frames)
    census.count()
    out["census(count)"] = time.perf_counter() - t0
    return out


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "training"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_TABLE_CACHE", "1")
    spark = get_spark("stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")
    docs.count()  # warm table cache
    fn = profile_training if which == "training" else profile_serving
    fn(spark, docs)  # warm-up rep (JIT/codegen)
    for r in range(reps):
        out = fn(spark, docs)
        total = sum(v for k, v in out.items() if not k.startswith("_"))
        print(f"-- rep {r + 1}/{reps} (stage noop total {total:.3f}s) --")
        for k, v in out.items():
            print(f"  {k:36s} {v:7.3f}s")


if __name__ == "__main__":
    main()
