"""Bitemporal "current state" layer.

Reference counterparts (SURVEY.md §2.2 F8, §2.4 J4/J5):
- F8 payload state reason: archived / t_valid>now (not_yet_valid) /
  t_invalid<=now (expired)                        automem/api/recall.py:437-449
- J5 current-state filter + replacement injection automem/api/recall.py:596-723
  (replacement = supersession chain head from J4, injected as
  match_type='state_replacement' carrying the suppressed row's score,
  deduped against ids already in the result set, and required to be active)

Scale notes: `results` is a bounded candidate set (<= limit + expansions),
so the filter runs on the driver's copy of it. Its ids reach the corpus only
as pushed-down `id IN (...)` filters: the supersession walk reads the edges
leaving the candidates (and, hop by hop, the edges leaving the nodes it
reaches), and one more filtered read fetches state, importance and
timestamp of the candidates and their heads. No corpus-wide frame is
joined, broadcast or shuffled; the only plan work on the output is the
final position window over the bounded rows, after a broadcast of the
fetched (bounded) ordering columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def state_reason_expr(
    archived: Column,
    t_valid: Column,
    t_invalid: Column,
    now: Column,
) -> Column:
    """F8 (recall.py:437-449) — evaluation order matters: archived wins,
    then not-yet-valid, then expired; NULL means active."""
    return (
        F.when(F.coalesce(archived, F.lit(False)), F.lit("archived"))
        .when(t_valid.isNotNull() & (t_valid > now), F.lit("not_yet_valid"))
        .when(t_invalid.isNotNull() & (t_invalid <= now), F.lit("expired"))
    )


def state_reason_sql(now: str) -> str:
    """`state_reason_expr` over the memory columns as SQL text (one parsed
    expression; equivalence pinned in tests/test_state_decompose.py)."""
    from automem_spark.functions.text import assert_sql_literal_safe

    ts = f"CAST('{assert_sql_literal_safe(now, 'now timestamp')}' AS TIMESTAMP)"
    return (
        "CASE WHEN coalesce(`archived`, false) THEN 'archived'"
        f" WHEN `t_valid` IS NOT NULL AND `t_valid` > {ts} THEN 'not_yet_valid'"
        f" WHEN `t_invalid` IS NOT NULL AND `t_invalid` <= {ts} THEN 'expired'"
        " END"
    )


def current_state_filter(
    results: DataFrame,
    memories: DataFrame,
    edges: DataFrame,
    *,
    now: str,
    score_col: str = "final_score",
    keep_order_cols: bool = False,
) -> DataFrame:
    """J5 (recall.py:596-723): suppress rows whose memory has a state reason
    or an active supersession replacement; inject the chain head as
    match_type='state_replacement' carrying the suppressed row's score.

    The supersession walk is activity-gated PER HOP, mirroring
    _query_state_replacements (recall.py:452-520): at each hop the
    newest-first edge scan skips targets that are themselves
    archived/expired/not-yet-valid, so an inactive newest replacement falls
    back to the next-newest edge and the walk stops at the last active node.
    A source whose every replacement candidate is inactive has NO
    replacement — it is not marked superseded (it may still be suppressed by
    its own state reason, with nothing injected). The walk starts from the
    candidate ids only (`resolve_supersession(..., start=ids)`), and its
    heads feed both the suppression and the injection.

    results: (id, match_type, match_score, final_score, ...) — bounded
    memories: must carry (id, archived, t_valid, t_invalid, importance, timestamp)
    edges: graph edges with (src, dst, rel_type, updated_at_epoch)

    The driver reads the candidates' ids, their chains and their states,
    and decides which rows are suppressed and which heads are injected;
    the surviving rows are `results` itself minus an id filter.

    Output: (id, match_type, state_replaces, final_score, position), plus
    importance/timestamp when keep_order_cols.
    """
    from automem_spark.functions.text import in_list_expr
    from automem_spark.operators.graph import desc_nulls_last_key, resolve_supersession
    from automem_spark.plans.checkpoint import collect_bounded, local_frame

    spark = results.sparkSession
    state_reason = F.expr(state_reason_sql(now)).alias("state_reason")

    rows = collect_bounded(results.select("id", score_col))
    ids = list(dict.fromkeys(r["id"] for r in rows if r["id"] is not None))

    # per-hop activity gating means every returned head is active by
    # construction — no post-hoc head filter needed
    heads = {}
    if ids:
        walked = resolve_supersession(
            edges, node_state=memories.select("id", state_reason), start=ids
        )
        heads = {r["start"]: r["head"] for r in walked.collect()}

    # every memory row we will ever need: the candidates themselves plus
    # their replacement heads, in one id-filtered read
    needed = list(dict.fromkeys([*ids, *heads.values()]))
    info_df = memories.filter(in_list_expr("id", needed)).select(
        "id",
        state_reason,
        F.col("importance").alias("_imp"),
        F.col("timestamp").alias("_ts"),
    )
    info_rows = collect_bounded(info_df) if needed else []
    info = {}
    for r in info_rows:
        info.setdefault(r["id"], r)

    # annotate each result row: its own state reason wins, else
    # 'superseded' when its chain has an active head
    suppressed, injected = [], {}
    seen = {r["id"] for r in rows}
    for r in rows:
        mem = info.get(r["id"])
        head = heads.get(r["id"])
        if not ((mem and mem["state_reason"]) or head is not None):
            continue
        suppressed.append(r["id"])
        if head is None or head in seen:
            continue
        # a head may replace several suppressed rows: keep the highest
        # carried score, then the lowest replaced id (first-wins in the
        # reference's insertion order = score order)
        best = injected.get(head)
        if best is not None:
            mine = desc_nulls_last_key(r[score_col])
            theirs = desc_nulls_last_key(best[score_col])
            if mine < theirs or (
                mine == theirs and r["id"] > best["state_replaces"]
            ):
                continue
        injected[head] = {
            "id": head,
            "match_type": "state_replacement",
            "state_replaces": r["id"],
            score_col: r[score_col],
        }

    id_type = results.schema["id"].dataType
    kept = results.filter(
        F.col("id").isNull() | ~in_list_expr("id", suppressed)
    ).select(
        "id",
        "match_type",
        F.lit(None).cast(id_type).alias("state_replaces"),
        score_col,
    )
    injected_df = local_frame(spark, list(injected.values()), kept.schema)
    # the ordering columns come from the fetched rows, broadcast back (a
    # local frame: the corpus is never broadcast)
    order_cols = local_frame(spark, info_rows, info_df.schema).select(
        "id", "_imp", "_ts"
    )
    out = kept.unionByName(injected_df).join(
        F.broadcast(order_cols), "id", "left"
    )
    w = Window.orderBy(
        F.desc(score_col), F.desc("_imp"), F.desc("_ts"), F.asc("id")
    )
    ranked = out.withColumn("position", F.row_number().over(w))
    if keep_order_cols:
        # callers (recall_full) reuse these for downstream re-ranks instead
        # of re-hydrating from the corpus
        return ranked.withColumnRenamed("_imp", "importance").withColumnRenamed(
            "_ts", "timestamp"
        )
    return ranked.drop("_imp", "_ts")
