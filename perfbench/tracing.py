"""Spans and per-layer counters for the engine benchmark.

Every call the benchmark makes into a public engine function goes through
`Tracer.op`, which times two phases: *build* (the Python call that returns
a DataFrame; any job it launches, such as an eager `localCheckpoint` or a
driver-side collect, is an *eager* job) and *exec* (the action the
benchmark runs on the result). Untraced, `op` only reads the clock. Traced,
it also

- tags the jobs of each phase with their own Spark job group, and after the
  op reads Spark's in-process status store for those groups (stage task
  counts, executor run time, shuffle and spill bytes, failed tasks);
- counts py4j commands sent during the build phase;
- records a span (name, start, end, parent, request id) per op and per
  phase, kept in memory and written as JSON when the run ends.

The status-store reads happen after the op's clock has stopped, so they
slow the closed loop (fewer operations per run) but not the timings.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# Per-layer suffixes, by the layer's role (see BENCHMARK.json).
FULL_SUFFIXES = (
    "calls", "build_s", "py4j_calls", "eager_jobs", "eager_s", "exec_s",
    "tasks", "task_run_s", "shuffle_bytes", "spill_bytes", "task_failures",
    "single_task_stages", "core_idle_frac",
)
MAINT_SUFFIXES = (
    "build_s", "eager_jobs", "eager_s", "exec_s", "task_run_s",
    "core_idle_frac", "shuffle_bytes",
)


class _Counter:
    """Counts py4j commands by wrapping the gateway client's send_command."""

    def __init__(self, client) -> None:
        self.n = 0
        orig = client.send_command

        def counting(*args, **kwargs):
            self.n += 1
            return orig(*args, **kwargs)

        client.send_command = counting


class Tracer:
    def __init__(self, spark, enabled: bool, cores: int) -> None:
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0
        # layer -> accumulated counters over every op of that layer
        self.layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        if enabled:
            self._sc = spark.sparkContext
            self._jsc = self._sc._jsc.sc()
            self._py4j = _Counter(self._sc._gateway._gateway_client)

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": sid, "name": name, "parent": parent, "request": request,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    # -- one public-function call -------------------------------------
    def op(self, layer: str, build, evaluate, request: str | None = None):
        """Run `build()` (the engine call) then `evaluate(result)` (the
        action). Returns (output, build_s, exec_s)."""
        if not self.enabled:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            out = evaluate(df)
            t2 = time.perf_counter()
            return out, t1 - t0, t2 - t1
        self._seq += 1
        gb, gx = f"{layer}#{self._seq}:build", f"{layer}#{self._seq}:exec"
        with self.span(layer, request):
            self._sc.setJobGroup(gb, layer)
            n0 = self._py4j.n
            with self.span(layer + ":build"):
                t0 = time.perf_counter()
                df = build()
                t1 = time.perf_counter()
            n_py4j = self._py4j.n - n0
            self._sc.setJobGroup(gx, layer)
            with self.span(layer + ":exec"):
                t2 = time.perf_counter()
                out = evaluate(df)
                t3 = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._account(layer, gb, gx, t1 - t0, t3 - t2, n_py4j)
        return out, t1 - t0, t3 - t2

    def _account(self, layer, gb, gx, build_wall, exec_wall, n_py4j) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        eager = self._group_stats(gb)
        ex = self._group_stats(gx)
        acc = self.layers[layer]
        acc["calls"] += 1
        acc["py4j_calls"] += n_py4j
        acc["eager_jobs"] += eager["jobs"]
        acc["eager_s"] += eager["job_s"]
        acc["build_s"] += max(0.0, build_wall - eager["job_s"])
        acc["exec_s"] += exec_wall
        acc["exec_cores_s"] += exec_wall * self.cores
        for k in ("tasks", "task_run_s", "shuffle_bytes", "spill_bytes",
                  "task_failures", "single_task_stages"):
            acc[k] += ex[k]

    def _group_stats(self, group: str) -> dict:
        store = self._jsc.statusStore()
        st = dict(jobs=0, job_s=0.0, tasks=0, task_run_s=0.0, shuffle_bytes=0,
                  spill_bytes=0, task_failures=0, single_task_stages=0)
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            st["jobs"] += 1
            if jd.completionTime().isDefined():
                st["job_s"] += (jd.completionTime().get().getTime()
                                - jd.submissionTime().get().getTime()) / 1000.0
            info = self._sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # SKIPPED: shuffle output reused, no tasks ran
                st["tasks"] += sd.numTasks()
                st["single_task_stages"] += int(sd.numTasks() == 1)
                st["task_run_s"] += sd.executorRunTime() / 1000.0
                st["shuffle_bytes"] += sd.shuffleWriteBytes()
                st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                st["task_failures"] += sd.numFailedTasks()
        return st

    # -- results -------------------------------------------------------
    def layer_metrics(self, layer: str, suffixes) -> dict[str, float]:
        """Per-call means of the layer's counters (calls itself is a total).
        core_idle_frac = 1 - task_run_s / (exec wall x cores)."""
        acc = self.layers.get(layer)
        if not acc or not acc["calls"]:
            raise RuntimeError(f"layer {layer} was never called")
        n = acc["calls"]
        out = {}
        for s in suffixes:
            if s == "calls":
                out[s] = n
            elif s == "core_idle_frac":
                cap = acc["exec_cores_s"]
                out[s] = 1.0 - acc["task_run_s"] / cap if cap > 0 else 0.0
            else:
                out[s] = acc[s] / n
        return {f"{layer}.{s}": v for s, v in out.items()}

    def self_times(self) -> dict[str, float]:
        """Self time per span name: span duration minus the part of it
        that child spans cover (children of one span never overlap here,
        the loop is single-threaded)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)
