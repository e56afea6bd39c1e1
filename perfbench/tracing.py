"""Tracing for the benchmark's traced runs, kept outside the engine.

- `Tracer.span(name)` labels every Spark job started inside it with the
  job group `name` and records a wall-clock span. Spans live in memory
  and are written once, when the run ends. `Tracer.labelled` runs every
  call of chosen engine functions in such a span.
- `Tracer.group_stats()` reads Spark's own `AppStatusStore` (it works
  with the UI off) and sums, per job group: jobs, stages, tasks,
  executor run and CPU time, shuffle write, spill, failed tasks, and the
  driver-side gap (span wall minus the union of its stage spans).
- `StreamProbe` is a `StreamingQueryListener` that keeps each
  micro-batch's `durationMs` (addBatch, walCommit, commitOffsets,
  queryPlanning, triggerExecution).
- `NullTracer` has the same calls and traces nothing, for the untraced
  side of `trace.overhead_s`.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


def _opt_epoch_s(opt) -> float | None:
    """A Scala `Option[java.util.Date]` as epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_len(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._stats = None  # group_stats of the current spans

    @contextlib.contextmanager
    def span(self, name: str):
        """Run the body under job group `name`; its parent is the span
        it is nested in, on this thread."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev)
            with self._lock:
                self.spans.append(
                    {"name": name, "parent": parent, "start": t0, "end": t1}
                )
                self._stats = None

    @contextlib.contextmanager
    def labelled(self, targets):
        """Swap `(module, attribute, label)` functions for wrappers that
        run each call in a span; restore them afterwards. A list label
        names successive calls in order."""
        saved = []
        for mod, attr, label in targets:
            fn = getattr(mod, attr)
            labels = (iter(label) if isinstance(label, list)
                      else itertools.repeat(label))

            def wrapper(*a, _fn=fn, _labels=labels, **kw):
                with self.span(next(_labels)):
                    return _fn(*a, **kw)

            saved.append((mod, attr, fn))
            setattr(mod, attr, wrapper)
        try:
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def _store_rows(self) -> tuple[dict, dict]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        empty = self.spark._jvm.java.util.ArrayList()
        jobs: dict[str, list] = {}
        jl = store.jobsList(empty)
        for i in range(jl.size()):
            j = jl.apply(i)
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
            jobs.setdefault(group, []).append(
                {"job": j.jobId(), "stages": ids,
                 "status": j.status().toString()}
            )
        stages: dict[int, dict] = {}
        sl = store.stageList(
            empty, False, False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        for i in range(sl.size()):
            s = sl.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            stages[s.stageId() * 1000 + s.attemptId()] = {
                "stage": s.stageId(),
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled())
                / 2**20,
                "start": _opt_epoch_s(s.submissionTime()),
                "end": _opt_epoch_s(s.completionTime()),
            }
        return jobs, stages

    def group_stats(self) -> dict[str, dict]:
        """Per job group (= span name) totals from the status store. A
        group's numbers include the groups of the spans nested in it,
        its wall is the summed wall of its spans, and its driver gap is
        that wall minus the union of its stage spans. `"*"` is every
        traced group together, its wall the summed wall of the root
        spans. Groups that ran nothing read as 0."""
        if self._stats is not None:
            return self._stats
        jobs, stages = self._store_rows()
        by_stage: dict[int, list[dict]] = {}
        for st in stages.values():
            by_stage.setdefault(st["stage"], []).append(st)
        names = list(dict.fromkeys(s["name"] for s in self.spans))
        inner = {n: {n} for n in names}
        for _ in names:  # close over nesting depth
            for sp in self.spans:
                for n in names:
                    if sp["parent"] in inner[n]:
                        inner[n].add(sp["name"])
        out = _Groups()
        for name in names + ["*"]:
            members = names if name == "*" else inner[name]
            group_jobs = [j for n in members for j in jobs.get(n, [])]
            wall = sum(s["end"] - s["start"] for s in self.spans
                       if (s["parent"] is None if name == "*"
                           else s["name"] == name))
            rows = [a for j in group_jobs for sid in j["stages"]
                    for a in by_stage.get(sid, [])]
            spans = [(r["start"], r["end"]) for r in rows
                     if r["start"] is not None and r["end"] is not None]
            rec = {
                "wall_s": wall,
                "jobs": len(group_jobs),
                "stages": len(rows),
                "tasks": sum(r["tasks"] for r in rows),
                "failed_tasks": sum(r["failed_tasks"] for r in rows),
                "exec_run_s": sum(r["run_s"] for r in rows),
                "exec_cpu_s": sum(r["cpu_s"] for r in rows),
                "shuffle_write_mb": sum(r["shuffle_write_mb"] for r in rows),
                "spill_mb": sum(r["spill_mb"] for r in rows),
                "driver_gap_s": max(0.0, wall - _union_len(spans)),
            }
            rec["exec_wait_s"] = rec["exec_run_s"] - rec["exec_cpu_s"]
            out[name] = rec
        self._stats = out
        return out


class _Groups(dict):
    def __missing__(self, name):
        return {"wall_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0,
                "failed_tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
                "exec_wait_s": 0.0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0, "driver_gap_s": 0.0}


class StreamProbe(StreamingQueryListener):
    """Collects `durationMs` of every micro-batch progress event."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.batches.append(
                {"batch": p.batchId, "rows": p.numInputRows,
                 **{k: float(v) for k, v in p.durationMs.items()}}
            )

    def wait_for(self, n: int, timeout: float) -> None:
        """Progress events arrive asynchronously after the query ends."""
        deadline = time.monotonic() + timeout
        while len(self.batches) < n and time.monotonic() < deadline:
            time.sleep(0.05)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class NullTracer:
    """A tracer that traces nothing: the same calls run with no job
    groups, no spans and no labelling wrappers, for the untraced side
    of `trace.overhead_s`."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def labelled(self, targets):
        yield

    def group_stats(self) -> dict[str, dict]:
        return _Groups()
