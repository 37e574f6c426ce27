"""Engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload recall --seed 1 --seconds 40 --trace 0

Run from the repository root. The run generates the workload's inputs from
the seed under perfbench/.work/, starts a Spark session at local[nproc],
sets up (session + source views + warm-up read) three times, runs the
workload's closed loop for --seconds, checks a seeded sample of the outputs
against the repo's oracles, and prints one JSON object as the last line of
standard output. The line before it is a report with every
figure by name, unit and sample count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("recall", "maintenance")
SETUPS = 3
CANARY_ROWS = 20_000_000

MAINT_LAYERS = (
    "ingest.normalize_memories", "ingest.upsert_memories", "dedup.exact_dedup",
    "dedup.minhash_lsh_pairs", "entity_extract.extract_entities",
    "enrich.enrich_pipeline", "consolidation.creative_pairs",
    "graph.connected_components", "consolidation.cluster_summaries",
    "graph.resolve_supersession", "consolidation.forget_classify", "graph.sync_drift",
)
RECALL_LAYERS = ("recall.recall", "recall.recall_full", "recall.recall_many_hybrid")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs):
    return statistics.median(xs)


def tail_percentile(n: int) -> int | None:
    """The highest of p90/p95/p99 with at least ten of n samples beyond it,
    or None: a tail figure from fewer samples is noise."""
    ok = [p for p in (90, 95, 99) if n * (100 - p) >= 1000]
    return ok[-1] if ok else None


def prepare_env(workdir: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the work dir."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
                               "--conf spark.sql.warehouse.dir=" + os.path.join(workdir, "wh")
                               + " pyspark-shell",
    })
    import tempfile

    tempfile.tempdir = tmp


def setup_once(run, inputs: dict) -> tuple[float, float]:
    """Session start + source views with their warm-up read.
    Returns (session seconds, views seconds)."""
    from automem_spark.session import get_spark

    import workloads

    if run.spark is not None:
        run.spark.stop()
    t0 = time.perf_counter()
    run.spark = get_spark("perfbench", shuffle_partitions=run.cores)
    t1 = time.perf_counter()
    run.spark.sparkContext.setLogLevel("ERROR")
    run.views = workloads.build_views(run, inputs)
    return t1 - t0, time.perf_counter() - t1


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs from /proc/stat: the share
    of time a hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def canary(spark, cores: int) -> float:
    """Constant work, no engine code: a sum over CANARY_ROWS split across
    every core, timed after the loop on a warm JVM, so host contention (not
    a code change) shows here."""
    df = spark.range(0, CANARY_ROWS, 1, cores).selectExpr("sum(id * id % 97) AS probe")
    t0 = time.perf_counter()
    df.collect()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be closed by stop()
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(tracer, setup: dict) -> dict:
    from tracing import FULL_SUFFIXES, MAINT_SUFFIXES

    out = {"session.get_spark_s": setup["session"], "sources.views_s": setup["views"]}
    for layer in RECALL_LAYERS:
        suffixes = FULL_SUFFIXES
        if layer == "recall.recall":
            # recall launches no job while it builds its plan, so its eager_s
            # would read 0.0 on every run; eager_jobs shows one appearing
            suffixes = tuple(x for x in FULL_SUFFIXES if x != "eager_s")
        out.update(tracer.layer_metrics(layer, suffixes))
    for layer in MAINT_LAYERS:
        out.update(tracer.layer_metrics(layer, MAINT_SUFFIXES))
    acc = tracer.layers["dedup.minhash_lsh_pairs"]
    out["dedup.minhash_lsh_pairs.pair_yield"] = acc["_pairs"] / max(acc["_cand"], 1)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "automem_spark", "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: the engine sources (automem_spark/, __spark_entry__.py) "
              f"are not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import gen
    import workloads
    from tracing import Tracer

    cores = nproc()
    workdir = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    prepare_env(workdir, cores)
    run = workloads.Run(args.seed, workdir, cores)
    edges_cache = None
    try:
        t0 = time.perf_counter()
        run.inputs = workloads.make_inputs(run)
        gen_s = time.perf_counter() - t0
        if gen.fingerprint([run.inputs["docs"], run.inputs["vecs"]]) != \
                gen.fingerprint(gen.base_corpus(args.seed)):
            raise RuntimeError("input generator is not deterministic for this seed")

        sessions, views, setups = [], [], []
        for _ in range(SETUPS):
            s, v = setup_once(run, run.inputs)
            sessions.append(s)
            views.append(v)
            setups.append(s + v)
        from automem_spark.sources.graph_fixture import _edges_cache_path

        edges_cache = _edges_cache_path(run.inputs["sf"])
        run.tracer = Tracer(run.spark, bool(args.trace), cores)
        phases = {"setup": time.perf_counter() - t0}
        t_w = time.perf_counter()
        loop = getattr(workloads, "run_" + args.workload)
        steal0 = cpu_ticks()
        loop(run, time.perf_counter() + args.seconds)
        steal1 = cpu_ticks()
        phases["loop"] = time.perf_counter() - t_w
        canary_s = canary(run.spark, cores)
        samples, units, unit_cpu = dict(run.samples), list(run.units), list(run.unit_cpu)
        if args.trace:
            # coverage: one unit of the other workload, so every traced run
            # reports every layer (its calls count in the per-layer figures)
            run.units, run.unit_cpu = [], []
            other = [w for w in WORKLOADS if w != args.workload][0]
            getattr(workloads, "run_" + other)(run, 0.0)

        t_c = time.perf_counter()
        failures = []
        for name, check in run.checks:
            errs = check()
            if errs:
                failures.append((name, errs))
                print(f"perfbench: FAILED {name}: {errs}", file=sys.stderr)
        phases["checks"] = time.perf_counter() - t_c
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(run.spark.sparkContext._gateway.proc.pid)

        s = samples
        e2e = {
            "setup_s": (median(setups), "s", len(setups)),
            "unit_cpu_s": (median(unit_cpu), "s", len(unit_cpu)),
        }
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cores, "gen_s": gen_s,
            "canary_s": canary_s,
            "steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "setup_samples_s": setups, "phases_s": phases,
            "operations": run.attempted, "checked": len(run.checks),
            "failed": len(failures), "failed_frac": len(failures) / max(run.attempted, 1),
            "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
            "peak_rss_mb": rss, "unit_samples_s": units, "unit_cpu_samples_s": unit_cpu,
            "calls_p50_s": {k: median(v) for k, v in s.items()},
        }
        for k, v in s.items():
            p = tail_percentile(len(v))
            if p:
                report["calls_p50_s"][f"{k}.p{p}"] = statistics.quantiles(v, n=100)[p - 1]
        # the same run's figures under the workload's own names
        report["metrics"]["unit_s"] = {"value": median(units), "unit": "s", "n": len(units)}
        named = {
            "recall_p50_ms": ("recall.recall", 1000.0, "ms"),
            "recall_full_p50_ms": ("recall.recall_full", 1000.0, "ms"),
            "batch_p50_s": ("recall.recall_many_hybrid", 1.0, "s"),
            "maintenance_cycle_s": ("maintenance.cycle", 1.0, "s"),
        }
        for k, (layer, scale, unit) in named.items():
            if layer in s:
                report["metrics"][k] = {"value": median(s[layer]) * scale, "unit": unit,
                                        "n": len(s[layer])}
        if "recall.recall_many_hybrid" in s:
            b = s["recall.recall_many_hybrid"]
            report["metrics"]["batch_recall_qps"] = {
                "value": gen.BATCH_Q * len(b) / sum(b), "unit": "1/s", "n": len(b)}
        if args.trace:
            metrics = layer_metrics(run.tracer,
                                    {"session": median(sessions), "views": median(views)})
            unit_of = {"calls": "count", "py4j_calls": "count", "eager_jobs": "count",
                       "tasks": "count", "task_failures": "count",
                       "single_task_stages": "count", "shuffle_bytes": "bytes",
                       "spill_bytes": "bytes", "core_idle_frac": "ratio", "pair_yield": "ratio"}
            out_metrics = {k: {"value": v, "unit": unit_of.get(k.rsplit(".", 1)[1], "s")}
                           for k, v in metrics.items()}
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            run.tracer.write(os.path.join(
                HERE, ".traces", f"{args.workload}-s{args.seed}.json"))
            report["self_s"] = run.tracer.self_times()
        else:
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        stop_spark(run.spark)
        run.spark = None
        print(json.dumps(report))
        print(json.dumps({
            "correct": not failures,
            "attempted": run.attempted,
            "failed": len(failures),
            "metrics": out_metrics,
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(workdir, ignore_errors=True)
        if edges_cache:
            shutil.rmtree(edges_cache, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
