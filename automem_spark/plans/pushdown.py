"""A filter that Catalyst cannot push below the plan position it is
written at.

Filter pushdown is normally the right thing — predicates on source
columns belong at the scan (PushedFilters). It is WRONG for exactly one
shape, measured twice this round (ann_ivf, training_selection): a
DETERMINISTIC predicate over an EXPENSIVE derived expression. Catalyst
substitutes the full defining expression into the predicate
(`replaceAlias`) and pushes it through projections and round-robin
exchanges down to the scan, which

  1. re-evaluates the expensive expression once in the pushed filter and
     again in any projection above that still needs the column — the
     guide §4.4 duplicated-evaluation class, with JVM expressions instead
     of a UDF (there is no `asNondeterministic` for plain Columns); and
  2. runs the pushed copy at the SCAN's parallelism, which on the
     single-row-group driver fixtures is 1-2 tasks — bypassing the
     `ensure_parallelism` exchange placed above the scan precisely to
     spread that compute.

`barrier_filter(df, pred)` keeps the predicate where it is written by
expressing it as a broadcast LEFT SEMI join against a one-row [true]
relation: a join CONDITION cannot be substituted into a scan, and the
join key is coalesced non-null so the optimizer cannot infer an
`isnotnull(key)` filter and push THAT copy down either (the exact
failure observed on the ann_ivf semi join before the coalesce).

Semantics are identical to `df.filter(pred)`: rows where `pred` is NULL
are dropped by filter and, via `coalesce(pred, false)`, never match the
[true] build row. Cost: one boolean column + a broadcast hash probe per
row against a 1-row relation — nanoseconds, versus re-running a
tokenize/aggregate chain per row on two cores.

Use it ONLY for predicates whose evaluation is expensive relative to a
scan-level re-read (text tokenization chains, per-centroid cosine
assignments). Cheap predicates on source columns should stay plain
`filter` so they keep reaching PushedFilters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_GATE = "_barrier_gate_ok"


def barrier_filter(df: DataFrame, pred: Column) -> DataFrame:
    # the helper column takes a name no input column has, so a caller's
    # own `_barrier_gate_ok` column passes through untouched
    gate_col = _GATE
    while gate_col in df.columns:
        gate_col = "_" + gate_col
    gate = df.sparkSession.createDataFrame(
        [(True,)], T.StructType([T.StructField(gate_col, T.BooleanType(), False)])
    )
    return (
        df.withColumn(gate_col, F.coalesce(pred, F.lit(False)))
        .join(F.broadcast(gate), gate_col, "left_semi")
        .drop(gate_col)
    )
