"""Plan helpers: the pushdown barrier and the parallelism gate."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from automem_spark.plans.parallelism import ensure_parallelism
from automem_spark.plans.pushdown import barrier_filter
from automem_spark.sources.tables import load_table, memories_view

_groups = itertools.count()


def _jobs(spark, fn):
    """(jobs launched by fn(), fn's result), counted under a job group."""
    sc = spark.sparkContext
    group = f"plan-helpers-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_barrier_filter_keeps_a_caller_gate_column(spark):
    """The helper column must not clobber (or drop) a caller column that
    happens to share its name."""
    df = spark.createDataFrame(
        [(1, "keep"), (2, "drop"), (3, "keep")], "id INT, _barrier_gate_ok STRING"
    )
    out = barrier_filter(df, F.col("id") != 2)
    assert out.columns == ["id", "_barrier_gate_ok"]
    assert sorted(map(tuple, out.collect())) == [(1, "keep"), (3, "keep")]


def test_ensure_parallelism_scan_decision_runs_no_job(spark, sf_dir):
    """A source scan keeps today's decision (its split count against the
    default parallelism), read without launching a job."""
    mem = memories_view(spark, sf_dir)
    splits = mem.rdd.getNumPartitions()
    n_jobs, out = _jobs(spark, lambda: ensure_parallelism(mem))
    assert n_jobs == 0
    target = spark.sparkContext.defaultParallelism
    if splits < target:
        assert out.rdd.getNumPartitions() == target
    else:
        assert out is mem
    # an explicit floor below the split count is a no-op
    n_jobs, same = _jobs(spark, lambda: ensure_parallelism(mem, min_parts=1))
    assert n_jobs == 0 and same is mem


def test_ensure_parallelism_after_shuffle_runs_no_job(spark, sf_dir):
    """Past a shuffle the partition count is adaptive execution's runtime
    choice; the gate must not execute the shuffle stages to learn it."""
    mem = memories_view(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    corpus = mem.join(emb.hint("merge"), "id")
    n_jobs, out = _jobs(spark, lambda: ensure_parallelism(corpus))
    assert n_jobs == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
