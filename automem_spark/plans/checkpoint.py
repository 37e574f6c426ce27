"""Checkpoint gate: `localCheckpoint` with an off-switch for plan tests.

Operators materialize small reused frames (bounded candidate sets, loop
frontiers) with `localCheckpoint` to cut lineage and avoid recomputing a
corpus scan per consumer. But a checkpoint replaces the subtree with
`Scan ExistingRDD` in the physical plan, which blinds the plan-shape guards
in tests/test_plan_scale.py (a corpus scan hidden behind a checkpoint could
be broadcast unbounded and the guard would not see it). Setting
AUTOMEM_SPARK_DISABLE_CHECKPOINT=1 keeps the full lineage visible so the
guards inspect the real subtree; production runs leave it unset.

Bounded frames that the driver needs as VALUES (candidate ids for a pushed
`IN` filter, a chain walk's pointers) are collected instead, through
`collect_bounded`, and re-enter plans as LocalRelations (`local_frame`,
`maybe_localize`). A LocalRelation costs no job to read: Catalyst folds
projections and filters over it at optimization time, and its row count
is exact in the plan statistics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

DISABLE_ENV = "AUTOMEM_SPARK_DISABLE_CHECKPOINT"


def checkpointing_enabled() -> bool:
    """THE predicate for whether maybe_checkpoint / CheckpointRotation will
    actually execute a checkpoint job. Loop operators that attach `observe`
    metrics to a checkpointed frame MUST gate the Observation on this same
    function (not a re-derived env check): an Observation attached to a plan
    the checkpoint layer then skips never executes, and `obs.get` blocks the
    driver forever (advisor, r11). Centralizing the predicate here means a
    future extra skip condition automatically reaches every probe guard."""
    return not os.environ.get(DISABLE_ENV)


def maybe_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    if not checkpointing_enabled():
        return df
    return df.localCheckpoint(eager=eager)


def collect_bounded(df: DataFrame) -> list[dict]:
    """Collect a frame the caller KNOWS is bounded (a request's candidate
    set, a walk frontier) to the driver as row dicts. Every driver-side
    read of a bounded frame goes through here, so a test can inspect the
    plan of each one.

    Rows come back through Arrow when the frame has a TIMESTAMP column (a
    Row collect would turn those into naive local-time datetimes; Arrow
    keeps UTC instants), and as plain Rows otherwise: a Row collect of a
    LocalRelation runs no job at all, an Arrow collect always runs one."""
    from pyspark.sql.types import TimestampType

    if any(isinstance(f.dataType, TimestampType) for f in df.schema.fields):
        return df.toArrow().to_pylist()
    return [r.asDict() for r in df.collect()]


def local_frame(spark: SparkSession, data, schema: StructType) -> DataFrame:
    """A LocalRelation holding `data` (a `pyarrow.Table`, or a list of
    row dicts as `collect_bounded` returns them) under `schema`, every
    field nullable."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in schema.fields]
    )
    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, pa.Table):
        table = data.cast(arrow_schema)
    else:
        table = pa.Table.from_pylist(list(data), schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


def maybe_localize(df: DataFrame) -> DataFrame:
    """Materialize a bounded frame with several consumers as a
    LocalRelation (one job). Same off-switch as `maybe_checkpoint`: with
    checkpoints disabled the full lineage stays in the plan."""
    if not checkpointing_enabled():
        return df
    return local_frame(df.sparkSession, df.toArrow(), df.schema)


class CheckpointRotation:
    """Per-iteration checkpointing for loops where each round's frame fully
    SUPERSEDES the previous one (label propagation, frontier advance).

    A bare per-round `localCheckpoint` leaks: the materialized blocks of
    every round stay in the block manager until session end — O(rounds)
    corpus-sized copies per run, taxing every later query in a shared
    session (the r4 bench-drift root cause). `checkpoint(df)` materializes
    the new frame eagerly, THEN frees the blocks of the frame from the
    previous call, so at most two generations are ever resident.

    Only safe when the caller never touches the previous frame again after
    the call returns — an unpersisted localCheckpoint has no lineage to
    recompute from. Do NOT use for accumulator frames (e.g. a `visited`
    union that keeps referencing earlier rounds' frames): checkpoint the
    accumulator itself instead.
    """

    def __init__(self) -> None:
        self._ids: list[int] = []
        self._sc = None

    @staticmethod
    def _persistent_ids(sc) -> set[int]:
        # ONE py4j round trip: iterating keySet() directly costs an RPC per
        # element per call, which at ~2 calls/iteration × O(session RDDs)
        # elements dominated the whole loop on small graphs (measured ~0.5s
        # of a 3s connected-components run at sf0.1)
        # Parsing a Java toString is format-coupled; degrade gracefully on
        # any token that is not an int (an id we fail to see is merely not
        # eagerly freed — session teardown still reclaims it) rather than
        # crashing the loop.
        s = sc._jsc.getPersistentRDDs().keySet().toString()
        ids: set[int] = set()
        for tok in s.strip("[]").split(","):
            tok = tok.strip()
            if tok:
                try:
                    ids.add(int(tok))
                except ValueError:
                    continue
        return ids

    def checkpoint(self, df: DataFrame) -> DataFrame:
        if not checkpointing_enabled():
            return df
        sc = df.sparkSession.sparkContext
        self._sc = sc
        out = df.localCheckpoint(eager=True)
        # Read the materialized RDD's id directly off the checkpointed
        # frame's analyzed plan (a LogicalRDD). The previous implementation
        # diffed the session-global persistent-RDD id set around the call,
        # which is RACY under concurrent jobs: a sibling thread's checkpoint
        # landing between the two snapshots got adopted into this rotation
        # and unpersisted out from under it (CHECKPOINT_RDD_BLOCK_ID_NOT_
        # FOUND in the sibling job — surfaced by the thread-pooled QA
        # scorecard gate). The direct read is exact, thread-safe, and one
        # py4j round trip cheaper. Fallback: skip tracking this generation
        # (leak one frame until session end) rather than guess from a
        # global diff.
        try:
            new_ids = [out._jdf.queryExecution().analyzed().rdd().id()]
        except Exception:  # pragma: no cover — plan-shape drift across versions
            new_ids = []
        jmap = sc._jsc.getPersistentRDDs()
        for rid in self._ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
        self._ids = new_ids
        return out

    def release(self) -> None:
        """Free the final generation too — only call once the loop's result
        has been fully consumed (the checkpointed frame has no lineage to
        recompute from). Optional; session teardown also reclaims."""
        if self._sc is not None:
            live = self._sc._jsc.getPersistentRDDs()
            for rid in self._ids:
                jrdd = live.get(rid)
                if jrdd is not None:
                    jrdd.unpersist(False)
        self._ids = []
