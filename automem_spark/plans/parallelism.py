"""Partitioning helpers.

The driver's synthetic tables are single-file/single-row-group parquet, so a
scan yields ONE input partition regardless of cluster size — and any heavy
per-row compute (shingling, hashing, vector math) serializes onto one core.
At 100 TB the source would naturally have tens of thousands of splits; these
helpers make small/dense sources behave the same way by inserting one cheap
round-robin shuffle ahead of compute-intensive fan-out.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# a shuffle in the physical plan (not a broadcast)
_SHUFFLE = re.compile(r"(?<!Broadcast)Exchange ")


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition up to the session default parallelism when the plan's
    current partitioning is narrower. No-op on already-parallel inputs, so
    it is safe to leave in place for genuinely large sources.

    The decision is read from the plan and never runs a job. A plan without
    a shuffle (a source scan and its narrow projections — every
    maintenance caller) reports its split count without executing
    anything. Past a shuffle the count is adaptive execution's runtime
    choice: it coalesces small shuffles (the batch corpus's merge join
    lands in ONE partition), and learning it would run the shuffle stages
    first, so such inputs are repartitioned."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if _SHUFFLE.search(df._jdf.queryExecution().executedPlan().toString()):
        return df.repartition(target)
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df.repartition(target)
    if current < target:
        return df.repartition(target)
    return df
