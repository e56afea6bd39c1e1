#!/usr/bin/env python3
"""Seeded curate / ingest / serve benchmark for the data_pipeline2_spark engine.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones of `BENCHMARK.json`;
with `--trace 1` they are its per-layer ones, from extra traced work
after the untraced part. Metric names and units come from
`BENCHMARK.json`; only which end-to-end metric each layer should move
lives here (`MOVES`). Everything else goes to standard error and to
`.perfbench_run/out/<workload>-s<seed>-t<trace>.json` (environment,
workload-specific numbers, set-up samples, spans, per-group Spark
numbers, and what went wrong). See perfbench/README.md.

The exit code is 0 when every operation succeeded and matched its
oracle, 1 when one failed or did not match (the result line is still
printed), and 2 when the engine cannot be imported (no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
N_FLOOR = 3

#: per-layer metric -> (end-to-end metric it should move, workload).
#: A workload reports 0 for a layer it does not exercise.
MOVES = {
    "session.start_s": ("setup_s", "all"),
    "sources.load_s": ("setup_s", "all"),
    "host.action_floor_s": ("validity: degraded host window", "all"),
    "trace.overhead_s": ("validity: traced minus untraced wall", "all"),
    "e2e.curate_s": ("op_p50_ms", "curate"),
    "e2e.index_build_s": ("op_p50_ms", "ingest"),
    "e2e.stream_ingest_s": ("op_p50_ms", "ingest"),
    "e2e.search_ms_p50": ("op_p50_ms", "serve"),
    "e2e.search_ms_p90": ("op_p50_ms", "serve"),
    "e2e.lookup_ms_p50": ("lookup latency", "serve"),
    "e2e.chunks_ms_p50": ("get_chunks latency", "serve"),
    "e2e.upload_ms_p50": ("upload latency", "serve"),
    "e2e.error_rate": ("failed / attempted", "all"),
    "textanalysis.quality_s": ("op_p50_ms", "curate"),
    "textanalysis.decontaminate_s": ("op_p50_ms", "curate"),
    "dedup.exact_s": ("op_p50_ms", "curate"),
    "dedup.near_s": ("op_p50_ms", "curate"),
    "dedup.near_kept_ratio": ("op_p50_ms", "curate"),
    "chunking.curate_s": ("op_p50_ms", "curate"),
    "sampling.pack_split_s": ("op_p50_ms", "curate"),
    "expectations.gate_s": ("op_p50_ms", "curate"),
    "embedding.cache_hit_ratio": ("op_p50_ms", "ingest"),
    "embedding.embed_miss_s": ("op_p50_ms", "ingest"),
    "materialize.jobs": ("op_p50_ms", "ingest"),
    "chunking.ingest_s": ("op_p50_ms", "ingest"),
    "streaming.batches": ("op_p50_ms", "ingest"),
    "streaming.batch_ms_p50": ("op_p50_ms", "ingest"),
    "streaming.addBatch_ms": ("op_p50_ms", "ingest"),
    "streaming.walCommit_ms": ("op_p50_ms", "ingest"),
    "streaming.commitOffsets_ms": ("op_p50_ms", "ingest"),
    "streaming.queryPlanning_ms": ("op_p50_ms", "ingest"),
    "streaming.nonbatch_s": ("op_p50_ms", "ingest"),
    "embedding.query_embed_ms": ("op_p50_ms", "serve"),
    "similarity.knn_ms_p50": ("op_p50_ms", "serve"),
    "relational.point_lookup_ms_p50": ("lookup latency", "serve"),
    "chunking.exact_ms_p50": ("get_chunks, upload latency", "serve"),
    "api.http_overhead_ms_p50": ("op_p50_ms", "serve"),
    "serve.inflight_max": ("validity: open loop", "serve"),
    "serve.late_ms_p90": ("validity: open loop", "serve"),
    "spark.jobs": ("op_p50_ms", "all"),
    "spark.stages": ("op_p50_ms", "all"),
    "spark.tasks": ("op_p50_ms", "all"),
    "spark.exec_run_s": ("op_p50_ms", "all"),
    "spark.exec_cpu_s": ("op_p50_ms", "all"),
    "spark.exec_wait_s": ("op_p50_ms", "ingest"),
    "spark.shuffle_write_mb": ("op_p50_ms", "curate, ingest"),
    "spark.spill_mb": ("op_p50_ms", "curate, ingest"),
    "spark.driver_gap_s": ("op_p50_ms", "curate"),
    "spark.failed_tasks": ("e2e.error_rate", "all"),
}


def load_metrics() -> tuple[dict, dict]:
    """({end-to-end name: unit}, {per-layer name: unit}) from
    BENCHMARK.json; every per-layer metric must have a MOVES entry."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if set(per) != set(MOVES):
        raise ValueError("BENCHMARK.json per_layer and run.py MOVES "
                         f"differ: {sorted(set(per) ^ set(MOVES))}")
    return e2e, per


def pin_environment(work: str) -> dict:
    """Pin what the engine and its Python workers see; returns it."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        # the engine's default of 32 oversubscribes a small host
        "SPARK_GRAFT_CPUS": str(cpus),
        # Spark's Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM (launcher and driver) keeps its temp files, and no
        # hsperfdata, out of /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_TABLE_CACHE": "0",
    }
    os.environ.update(env)
    for var in ("SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    return env


def spark_conf(work: str) -> dict:
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["curate", "ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_pipeline2_spark")):
        print("error: the data_pipeline2_spark package is not in "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    try:
        units = load_metrics()
    except (OSError, ValueError, KeyError) as exc:
        print(f"error: BENCHMARK.json: {exc}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(RUN_DIR, f"{tag}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    sys.path.insert(0, ROOT)
    try:
        import data_pipeline2_spark  # noqa: F401
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    try:
        return run(args, work, env, tag, units)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(w, spark) -> None:
    """Stop the server, the session and the JVM, and wait for the JVM."""
    from pyspark import SparkContext

    w.close()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def oracle_values(w) -> dict:
    import oracle

    con = oracle.connect(w.lake)
    try:
        return w.expected(con)
    finally:
        con.close()


def run(args, work: str, env: dict, tag: str, units) -> int:
    from data_pipeline2_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS, median

    e2e_units, per_units = units
    w = WORKLOADS[args.workload](args.seed, work, args.seconds)
    w.generate()

    # set-up: what a user's run pays before its first operation, JVM
    # launch included; `setup_s` adds the warm-up
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}",
                      extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    try:
        w.load(spark)
        t2 = time.perf_counter()
        setup = {"setup_s": t2 - t0, "session.start_s": t1 - t0,
                 "sources.load_s": t2 - t1}
        log(f"set-up: {setup}")

        # per-run host action floor: a degraded host window shows here
        floors = []
        for _ in range(N_FLOOR):
            t0 = time.perf_counter()
            spark.range(1_000_000).count()
            floors.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        w.warm_up()
        warm_s = time.perf_counter() - t0
        log(f"warm-up: {warm_s:.3f}s")

        ticks0 = cpu_ticks()
        w.measure()
        ticks1 = cpu_ticks()
        # the share of CPU time the hypervisor gave to other guests while
        # measuring: like the action floor, it shows a degraded host window
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        log(f"timed: {[round(t, 3) for t in w.times]} detail: {w.detail} "
            f"steal: {steal:.3f}")

        layers, groups, tracer = {}, {}, None
        if args.trace:
            tracer = Tracer(spark)
            layers = w.traced(tracer)
            groups = tracer.group_stats()

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)

        # the DuckDB oracle runs while the engine stops: outside every
        # timing, and after the peak RSS is read
        with ThreadPoolExecutor(max_workers=1) as pool:
            want = pool.submit(oracle_values, w)
            stopping, spark = spark, None
            stop_spark(w, stopping)
            expected = want.result()
    finally:
        if spark is not None:
            stop_spark(w, spark)

    w.check(expected)
    correct = not w.wrong
    detail = {
        **w.detail,
        "error_rate": w.failed / max(1, w.attempted),
        "warmup_s": warm_s,
    }
    if args.trace:
        per = {k: v for k, v in layers.items() if not k.startswith("_")}
        per.update({
            "session.start_s": setup["session.start_s"],
            "sources.load_s": setup["sources.load_s"],
            "host.action_floor_s": median(floors),
            **{f"e2e.{k}": v for k, v in detail.items()
               if f"e2e.{k}" in per_units},
            **{f"spark.{k}": groups["*"][k] for k in (
                "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                "exec_wait_s", "shuffle_write_mb", "spill_mb",
                "driver_gap_s", "failed_tasks")},
        })
        metrics = {k: {"value": per.get(k, 0), "unit": u}
                   for k, u in per_units.items()}
    else:
        values = {
            "setup_s": setup["setup_s"] + warm_s,
            "op_p50_ms": w.op_ms(),
            "peak_rss_mb": peak_rss,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in e2e_units.items()}

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "environment": env, "setup": setup, "action_floor_s": floors,
        "host_steal_share": steal, "detail": detail,
        "op_samples_s": w.times, "peak_rss_mb": peak_rss,
        "wrong": w.wrong[:50], "metrics": metrics,
    }
    if tracer is not None:
        record["moves"] = {k: {"moves": m, "workload": wl}
                           for k, (m, wl) in MOVES.items()}
        record["groups"] = groups
        record["streaming_batches"] = layers.get("_batches", [])
        record["spans"] = tracer.spans
    out_dir = os.path.join(RUN_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for line in w.wrong[:20]:
        log(f"WRONG: {line}")
    log(f"detail: {json.dumps(detail)}")
    print(json.dumps({"correct": correct, "attempted": w.attempted,
                      "failed": w.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
