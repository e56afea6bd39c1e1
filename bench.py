#!/usr/bin/env python3
"""Engine benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline2_spark import registry
from data_pipeline2_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "q18_large_orders",
    "topk_per_group",
    "chunk_fixed",
    "chunk_sentence",
    "knn_batch",
    "dedup_exact",
    "dedup_near_minhash",
    # round-9 additions (VERDICT r8 item 3): the operators that now
    # define the dedup story get round-over-round regression tracking
    "simhash_pairs",
    "exact_substring_spans",
    "quality_score",
    "text_stats",
    "events_tumbling",
    "events_sliding",
    "events_session",
    # round-10 addition: the composed flagship — measured per-round so
    # the composition's cost curve is tracked, not just its members'
    "training_pipeline_e2e",
    # round-11 addition: the composed serving lifecycle (chunk store →
    # cache-aside embed → index → ranked kNN serve). The streaming
    # composition (streaming_search_e2e) follows the ivf_index_stream
    # precedent and stays OUT of the headline: its ~20 s wall is
    # micro-batch/checkpoint fixed cost, not query latency — its scale
    # evidence lives in SCALE.md.
    "semantic_search_e2e",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    # Steady-state bench: warm table cache on (see sources/parquet.py —
    # the single-row-group testdata files are otherwise a ONE-task scan
    # per query, an artifact of the test layout, not the engine).
    os.environ.setdefault("SPARK_GRAFT_TABLE_CACHE", "1")
    spark = get_spark("data_pipeline2_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()

    # Warm-up: run every headline plan shape once at the smallest SF so
    # JVM JIT + codegen compilation happen outside the measured window
    # (steady-state is what a long-lived cluster session sees), then
    # materialize the measured-SF table cache.
    for name in HEADLINE:
        try:
            qmap[name](spark, warm_dir).count()
        except Exception as exc:  # pragma: no cover - warmup is best-effort
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
    if os.environ.get("SPARK_GRAFT_TABLE_CACHE") == "1":
        from data_pipeline2_spark.sources.parquet import load_tables

        for name, df in load_tables(spark, sf_dir).items():
            df.count()

    # best-of-3 over INTERLEAVED full-suite passes: machine-wide noise
    # events (page-cache churn, competing processes) span minutes, so
    # back-to-back reps of one query sample the SAME draw — r5/r6 burned
    # two judge A/Bs re-litigating a 2x headline that was one slow
    # window. Running the whole suite as pass-1..pass-3 and taking the
    # per-query min across passes decorrelates the reps; the recorded
    # value samples the band floor, not a single draw. Every run is a
    # full re-execution — only the table cache persists between runs.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    per_pass: list[dict[str, float]] = []
    # Per-pass ACTION FLOOR (VERDICT r12 item 3): one trivial timed
    # action per pass makes a degraded-host window self-identifying —
    # r12's official artifact read 1.42x slower purely from machine
    # load and needed cross-artifact forensics to adjudicate. The
    # floor is outside every per-query timing (measured before the
    # pass) and costs one ~0.2 s job per pass. BENCH_NOTES rule: a
    # pass whose floor exceeds 1.5x the recorded idle floor (~0.10 s
    # on the build machine) is a degraded-host sample.
    floor_per_pass: list[float] = []
    rows: dict[str, int] = {}
    for p in range(reps):
        t0 = time.perf_counter()
        spark.range(1_000_000).count()
        floor_per_pass.append(round(time.perf_counter() - t0, 3))
        pass_t: dict[str, float] = {}
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = qmap[name](spark, sf_dir)
            rows[name] = df.count()  # full execution; result stays tiny
            pass_t[name] = time.perf_counter() - t0
        per_pass.append(pass_t)
        print(
            f"# pass {p + 1}/{reps}: "
            f"{round(sum(pass_t.values()), 3)}s total",
            file=sys.stderr,
        )
    # Published per-query value = MEDIAN across interleaved passes
    # (VERDICT r10 item 1): the r10 driver/builder runs of identical
    # code disagreed 1.077x vs 0.805x because a min-of-3 still samples
    # one machine-noise draw per query. The median of 5 interleaved
    # passes is the robust center; `noise` publishes the spread so a
    # reader can tell a real regression from a wide band without a
    # BENCH_NOTES exegesis. `queries_min` keeps the old floor metric
    # for continuity with r1-r10 files.
    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    samples = {name: [pt[name] for pt in per_pass] for name in HEADLINE}
    timings = {name: round(_median(v), 3) for name, v in samples.items()}
    timings_min = {name: round(min(v), 3) for name, v in samples.items()}
    iqr_pct: dict[str, float] = {}
    for name, v in samples.items():
        s = sorted(v)
        n = len(s)
        if n < 3:
            iqr_pct[name] = 0.0
            continue
        q1, q3 = s[max(0, (n - 1) // 4)], s[min(n - 1, (3 * (n - 1)) // 4)]
        med = _median(v)
        iqr_pct[name] = round(100.0 * (q3 - q1) / med, 1) if med else 0.0
    for name in HEADLINE:
        print(
            f"# {name}: median={timings[name]}s min={timings_min[name]}s "
            f"iqr={iqr_pct[name]}% rows={rows[name]}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)

    # Cold-scan pass: same queries, table cache OFF and dropped — every
    # run re-reads parquet. Published alongside the warm number so both
    # steady-state (long-lived session) and cold (first-touch) costs
    # are tracked round over round. JIT/codegen warmup still applies to
    # both: "cold" here means cold DATA, not a cold JVM.
    cold_timings: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_COLD", "1") == "1":
        from data_pipeline2_spark.sources import parquet as _pq

        os.environ["SPARK_GRAFT_TABLE_CACHE"] = "0"
        for df in _pq._TABLE_CACHE.values():
            df.unpersist()
        _pq._TABLE_CACHE.clear()
        spark.catalog.clearCache()
        for name in HEADLINE:
            t0 = time.perf_counter()
            n = qmap[name](spark, sf_dir).count()
            cold_timings[name] = round(time.perf_counter() - t0, 3)
            print(
                f"# cold {name}: {cold_timings[name]}s rows={n}",
                file=sys.stderr,
            )

    sf = sf_dir.rstrip("/").split("sf")[-1]
    # Full record: everything, written to a side file + stderr. The
    # driver captures only the last ~2000 chars of stdout (VERDICT r11
    # finding 1: the single-line JSON outgrew that window in r11 and
    # the official artifact lost its headline value + 13 medians), so
    # stdout carries a COMPACT summary line and the bulky per-pass /
    # per-query-iqr / cold detail lives in BENCH_FULL_LATEST.json.
    full = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "noise": {
            "passes": reps,
            "stat": "median",
            "iqr_pct": iqr_pct,
            "max_iqr_pct": max(iqr_pct.values()) if iqr_pct else 0.0,
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "table_cache_warm": True,
    }
    if cold_timings:
        full["cold_value"] = round(sum(cold_timings.values()), 3)
        full["queries_cold"] = cold_timings
    full["pass_totals"] = [
        round(sum(pt.values()), 3) for pt in per_pass
    ]
    full["action_floor"] = floor_per_pass

    root = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(root, "BENCH_FULL_LATEST.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError as exc:  # read-only checkout: stderr still has it
        print(f"# could not write {full_path}: {exc}", file=sys.stderr)
    print("# full record: " + json.dumps(full), file=sys.stderr)

    print(_compact_line(full))


def _compact_line(full: dict) -> str:
    """Compact stdout summary: headline value, per-query medians and the
    noise ceiling. Budget-guarded: if future headline growth pushes
    past the capture window, drop fields in documented order rather
    than truncate mid-JSON. Hard budget 1800 chars — the
    driver's tail capture is 2000 and the line must survive even with
    a stray warning prefix in the same window."""
    out = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "queries": full["queries"],
        "noise": {
            "passes": full["noise"]["passes"],
            "stat": full["noise"]["stat"],
            "max_iqr_pct": full["noise"]["max_iqr_pct"],
        },
        "sf": full["sf"],
        "table_cache_warm": full.get("table_cache_warm", True),
        "full_record": "BENCH_FULL_LATEST.json",
    }
    if "action_floor" in full:
        # ~45 chars; survives the drop order below (a degraded pass
        # must stay self-identifying even in the most compact form)
        out["action_floor"] = full["action_floor"]
    if "cold_value" in full:
        out["cold_value"] = full["cold_value"]
    line = json.dumps(out)
    for drop in ("queries", "noise"):
        if len(line) <= 1800:
            break
        out.pop(drop, None)
        line = json.dumps(out)
    return line


if __name__ == "__main__":
    main()
