"""Hybrid recall scoring as pure column expressions.

Reimplements the reference's ~11-component linear score
(automem/utils/scoring.py:137-280; weights automem/config.py:473-482) so the
entire re-rank runs JVM-side inside whole-stage codegen — no Python in the
hot path. Component gating rules (X2 in SURVEY.md §2.8) are CASE exprs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from automem_spark.functions.text import (
    assert_sql_literal_safe,
    content_tokens_expr,
    sql_string_literal,
)


@dataclass(frozen=True)
class Weights:
    """Score weights (reference defaults, automem/config.py:473-482)."""

    vector: float = 0.35
    keyword: float = 0.35
    metadata: float = 0.35
    relation: float = 0.25
    tag: float = 0.2
    importance: float = 0.1
    confidence: float = 0.05
    recency: float = 0.1
    exact: float = 0.2
    relevance: float = 0.0
    # context-bonus sub-weights (scoring.py:84-134)
    context_tag: float = 0.45
    context_type: float = 0.25
    context_keyword: float = 0.2
    context_anchor: float = 0.9
    # knobs
    recency_window_days: float = 180.0
    recency_curve: str = "linear"  # or "exp" (half-life)
    tag_score_token_cap: int = 0  # 0 = legacy full-length denominator
    relevance_gate: float = 0.0  # 0 = off (legacy bit-identical)


#: The SHIPPED blend (r13): recency 0.15 / importance 0.05, vs the
#: reference's 0.10/0.10 field defaults above (which stay on the Weights
#: dataclass as the documented reference values — `Weights()` IS the
#: legacy blend, kept as the `legacy_blend` lab candidate). The reference
#: exposes every one of these as an env knob (SEARCH_WEIGHT_*,
#: automem/config.py:473-482); this rebalance is the lab-decision outcome
#: of the r12 XL headroom ask: on the 393-question XL gate it takes
#: near_dup 9/15 -> 15/15 and the floor 0.888 -> 0.903 with ZERO
#: regressions in any other category (full-config sweep:
#: scripts/xl_weight_sweep.py; lab gate: tests/test_qa_accuracy.py::
#: test_shipped_config_is_lab_decision_choice — the legacy blend must
#: now LOSE to this one under pick_winner + the paired noise band).
DEFAULT_WEIGHTS = Weights(recency=0.15, importance=0.05)


def recency_score_expr(ts: Column, now: Column, w: Weights = DEFAULT_WEIGHTS) -> Column:
    """Linear `1 - age_days/window` floored at 0, or exp half-life
    `0.5^(age/window)` (scoring.py:66-81). Future timestamps -> 1.0."""
    age_days = (now.cast("double") - ts.cast("double")) / 86400.0
    age_days = F.greatest(age_days, F.lit(0.0))
    if w.recency_curve == "exp":
        score = F.pow(F.lit(0.5), age_days / w.recency_window_days)
    else:
        score = F.greatest(F.lit(0.0), F.lit(1.0) - age_days / w.recency_window_days)
    return F.when(ts.isNull(), F.lit(0.0)).otherwise(score)


def keyword_component_expr(
    match_type: Column, match_score: Column, content: Column, tokens: list[str]
) -> Column:
    """Keyword component: clamped match_score for keyword/trending matches,
    else content-token overlap fallback hits/len(tokens)
    (scoring.py:185-196)."""
    fallback = F.lit(0.0)
    if tokens:
        ctoks = content_tokens_expr(content)
        hits = sum(
            (F.array_contains(ctoks, t).cast("int") for t in tokens), F.lit(0)
        )
        fallback = F.when(
            F.length(F.coalesce(content, F.lit(""))) > 0, hits / F.lit(float(len(tokens)))
        ).otherwise(F.lit(0.0))
    return F.when(
        match_type.isin("keyword", "trending"),
        F.least(F.lit(1.0), F.coalesce(match_score, F.lit(0.0))),
    ).otherwise(fallback)


def tag_score_expr(tags: Column, tokens: list[str], w: Weights = DEFAULT_WEIGHTS) -> Column:
    """Token hits over lowercased tags / denominator (scoring.py:160-177).

    NOTE round 1: metadata terms not yet included in the hit set (metadata
    sidecar lands with the metadata channel); tags-only matches the corpus
    we test on, which carries no metadata column.
    """
    if not tokens:
        return F.lit(0.0)
    lower_tags = F.transform(tags, lambda t: F.lower(t))
    hits = sum(
        (F.array_contains(lower_tags, t).cast("int") for t in tokens), F.lit(0)
    )
    if w.tag_score_token_cap > 0:
        denom = max(min(len(tokens), w.tag_score_token_cap), 1)
    else:
        denom = max(len(tokens), 1)
    return F.least(F.lit(1.0), hits / F.lit(float(denom)))


def context_bonus_expr(
    *,
    tags: Column,
    mem_type: Column,
    mem_id: Column,
    priority_tags: list[str] | None = None,
    priority_types: list[str] | None = None,
    priority_ids: list[str] | None = None,
    w: Weights = DEFAULT_WEIGHTS,
) -> Column:
    """X5 context bonus (scoring.py:84-134): +0.45 priority-tag hit (exact /
    prefix / substring after :-canonicalization), +0.25 type hit (title-cased
    compare), +0.9 anchor id hit. (priority_keywords needs metadata terms —
    wired in with the metadata channel.)"""
    import re as _re

    bonus: Column = F.lit(0.0)
    if priority_tags:
        canon_tags = F.transform(
            tags, lambda t: F.regexp_replace(F.lower(t), "[:/]+", ":")
        )
        def tag_pred(cp: str):
            return lambda t: (t == cp) | t.startswith(cp) | t.contains(cp)

        hit: Column = F.lit(False)
        for p in priority_tags:
            cp = _re.sub(r"[:/]+", ":", p.strip().lower())
            hit = hit | F.exists(canon_tags, tag_pred(cp))
        bonus = bonus + F.when(hit, F.lit(w.context_tag)).otherwise(F.lit(0.0))
    if priority_types:
        titled = [t.strip().title() for t in priority_types]
        bonus = bonus + F.when(
            F.initcap(F.trim(mem_type)).isin(*titled), F.lit(w.context_type)
        ).otherwise(F.lit(0.0))
    if priority_ids:
        bonus = bonus + F.when(
            mem_id.cast("string").isin(*[str(i) for i in priority_ids]),
            F.lit(w.context_anchor),
        ).otherwise(F.lit(0.0))
    return bonus


def context_bonus_sql_spark(
    *,
    tags: str = "`tags`",
    mem_type: str = "`type`",
    mem_id: str = "`id`",
    priority_tags: list[str] | None = None,
    priority_types: list[str] | None = None,
    priority_ids: list | None = None,
    w: Weights = DEFAULT_WEIGHTS,
) -> str:
    """`context_bonus_expr` as Spark-SQL text for the one-`F.expr` fast
    path: the same terms added in the same order to the same 0.0 seed, so
    the value is bit-identical (pinned in tests/test_hybrid_score_fast.py).
    Priority values are caller data, so every one is an escaped literal.
    The canonicalized tag array is bound once per row."""
    import re as _re

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    bonus = d(0.0)
    if priority_tags:
        hits = " OR ".join(
            f"exists(ctags, t -> (t = {c}) OR startswith(t, {c}) OR contains(t, {c}))"
            for c in (
                sql_string_literal(_re.sub(r"[:/]+", ":", p.strip().lower()))
                for p in priority_tags
            )
        )
        canon = f"transform({tags}, t -> regexp_replace(lower(t), '[:/]+', ':'))"
        hit = (
            f"element_at(transform(array({canon}), ctags -> false OR {hits}), 1)"
        )
        bonus = f"({bonus} + CASE WHEN {hit} THEN {d(w.context_tag)} ELSE {d(0.0)} END)"
    if priority_types:
        titled = ", ".join(sql_string_literal(t.strip().title()) for t in priority_types)
        bonus = (
            f"({bonus} + CASE WHEN initcap(trim({mem_type})) IN ({titled})"
            f" THEN {d(w.context_type)} ELSE {d(0.0)} END)"
        )
    if priority_ids:
        ids = ", ".join(sql_string_literal(str(i)) for i in priority_ids)
        bonus = (
            f"({bonus} + CASE WHEN CAST({mem_id} AS STRING) IN ({ids})"
            f" THEN {d(w.context_anchor)} ELSE {d(0.0)} END)"
        )
    return bonus


def hybrid_score_expr(
    *,
    match_type: Column,
    match_score: Column,
    content: Column,
    tags: Column,
    importance: Column,
    confidence: Column,
    timestamp: Column,
    now: Column,
    tokens: list[str],
    relation_score: Column | None = None,
    relevance_score: Column | None = None,
    exact_match: Column | None = None,
    context_bonus: Column | None = None,
    w: Weights = DEFAULT_WEIGHTS,
) -> Column:
    """The full linear blend (scoring.py:250-262).

    final = 0.35*vector + 0.35*keyword + 0.35*metadata + 0.25*relation
          + 0.2*tag + 0.1*importance + 0.05*confidence + 0.1*recency
          + 0.2*exact + 0.0*relevance + context_bonus
    with per-component gating:
      vector component only when match_type='vector';
      metadata component only when match_type='metadata';
      keyword: see keyword_component_expr.
    """
    zero = F.lit(0.0)
    vector_c = F.when(match_type == "vector", F.coalesce(match_score, zero)).otherwise(zero)
    keyword_c = keyword_component_expr(match_type, match_score, content, tokens)
    metadata_c = F.when(match_type == "metadata", F.coalesce(match_score, zero)).otherwise(zero)
    relation_c = F.coalesce(relation_score, zero) if relation_score is not None else zero
    tag_c = tag_score_expr(tags, tokens, w)
    importance_c = F.coalesce(importance.cast("double"), zero)
    confidence_c = F.coalesce(confidence.cast("double"), zero)
    recency_c = recency_score_expr(timestamp, now, w)
    exact_c = F.coalesce(exact_match, zero) if exact_match is not None else zero
    relevance_c = F.coalesce(relevance_score, zero) if relevance_score is not None else zero

    # Within-pool relevance gate (scoring.py:229-236): when evidence
    # (max of query-topical components) < gate, linearly ramp down the
    # query-independent components. gate=0 (default) skips the branch so
    # legacy scores stay bit-identical.
    if tokens and w.relevance_gate > 0:
        evidence = F.greatest(vector_c, keyword_c, metadata_c, exact_c)
        scale = F.when(
            evidence < F.lit(w.relevance_gate), evidence / F.lit(w.relevance_gate)
        ).otherwise(F.lit(1.0))
        importance_c = importance_c * scale
        confidence_c = confidence_c * scale
        recency_c = recency_c * scale
        tag_c = tag_c * scale
        relevance_c = relevance_c * scale

    final = (
        F.lit(w.vector) * vector_c
        + F.lit(w.keyword) * keyword_c
        + F.lit(w.metadata) * metadata_c
        + F.lit(w.relation) * relation_c
        + F.lit(w.tag) * tag_c
        + F.lit(w.importance) * importance_c
        + F.lit(w.confidence) * confidence_c
        + F.lit(w.recency) * recency_c
        + F.lit(w.exact) * exact_c
        + F.lit(w.relevance) * relevance_c
    )
    if context_bonus is not None:
        final = final + context_bonus
    return final


def hybrid_score_sql_spark(
    *,
    tokens: list[str],
    now: str,
    w: Weights = DEFAULT_WEIGHTS,
    match_type: str = "`match_type`",
    match_score: str = "`match_score`",
    content: str = "`content`",
    tags: str = "`tags`",
    importance: str = "`importance`",
    confidence: str = "`confidence`",
    timestamp: str = "`timestamp`",
) -> str:
    """`hybrid_score_expr` (no optional components, relevance gate off) as
    Spark-SQL text for the one-`F.expr` fast path.

    Two let-bindings make the twin FASTER than the tree it mirrors, not
    just cheaper to build: the Column form re-evaluates the content
    tokenizer and the tag-lowering once per query token per row (Catalyst
    does no CSE across higher-order-function arguments — the lang_id
    no-CSE class); here `ctoks`/`ltags` bind them once per row. Every
    numeric operand is CAST to DOUBLE in the Column twin's exact
    association order; equivalence is pinned bit-identical by
    tests/test_hybrid_score_fast.py."""
    assert not (tokens and w.relevance_gate > 0), "gated path: use the tree"
    # charset contract at the interpolation site (not just at the fold):
    # these land inside single-quoted SQL literals below
    for t in tokens:
        assert_sql_literal_safe(t, "query token")
    assert_sql_literal_safe(now, "now timestamp")

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    vector_c = (
        f"(CASE WHEN {match_type} = 'vector' THEN"
        f" coalesce({match_score}, {d(0.0)}) ELSE {d(0.0)} END)"
    )
    metadata_c = (
        f"(CASE WHEN {match_type} = 'metadata' THEN"
        f" coalesce({match_score}, {d(0.0)}) ELSE {d(0.0)} END)"
    )
    if tokens:
        hits = " + ".join(
            f"CAST(array_contains(ctoks, '{t}') AS INT)" for t in tokens
        )
        fallback = (
            f"(CASE WHEN length(coalesce({content}, '')) > 0 THEN"
            f" ({hits}) / {d(float(len(tokens)))} ELSE {d(0.0)} END)"
        )
    else:
        fallback = d(0.0)
    keyword_c = (
        f"(CASE WHEN {match_type} IN ('keyword', 'trending') THEN"
        f" least({d(1.0)}, coalesce({match_score}, {d(0.0)}))"
        f" ELSE {fallback} END)"
    )
    if tokens:
        if w.tag_score_token_cap > 0:
            denom = max(min(len(tokens), w.tag_score_token_cap), 1)
        else:
            denom = max(len(tokens), 1)
        tag_hits = " + ".join(
            f"CAST(array_contains(ltags, '{t}') AS INT)" for t in tokens
        )
        tag_c = f"least({d(1.0)}, ({tag_hits}) / {d(float(denom))})"
    else:
        tag_c = d(0.0)
    importance_c = f"coalesce(CAST({importance} AS DOUBLE), {d(0.0)})"
    confidence_c = f"coalesce(CAST({confidence} AS DOUBLE), {d(0.0)})"
    now_d = f"CAST(CAST('{now}' AS TIMESTAMP) AS DOUBLE)"
    age = (
        f"greatest(({now_d} - CAST({timestamp} AS DOUBLE)) / {d(86400.0)},"
        f" {d(0.0)})"
    )
    if w.recency_curve == "exp":
        rec = f"power({d(0.5)}, {age} / {d(w.recency_window_days)})"
    else:
        rec = f"greatest({d(0.0)}, {d(1.0)} - {age} / {d(w.recency_window_days)})"
    recency_c = (
        f"(CASE WHEN {timestamp} IS NULL THEN {d(0.0)} ELSE {rec} END)"
    )
    # the Column twin's exact term order, including the zero-lit optional
    # components (adding 0.0 is FP-neutral but keeps association identical)
    final = (
        f"{d(w.vector)} * {vector_c}"
        f" + {d(w.keyword)} * {keyword_c}"
        f" + {d(w.metadata)} * {metadata_c}"
        f" + {d(w.relation)} * {d(0.0)}"
        f" + {d(w.tag)} * {tag_c}"
        f" + {d(w.importance)} * {importance_c}"
        f" + {d(w.confidence)} * {confidence_c}"
        f" + {d(w.recency)} * {recency_c}"
        f" + {d(w.exact)} * {d(0.0)}"
        f" + {d(w.relevance)} * {d(0.0)}"
    )
    if not tokens:  # no bindings referenced — skip the wrappers
        return final
    ctoks = (
        f"array_distinct(regexp_extract_all(lower({content}),"
        " '\\\\b[a-z0-9]+\\\\b', 0))"
    )
    ltags = f"transform({tags}, tg -> lower(tg))"
    return (
        f"element_at(transform(array({ctoks}), ctoks ->"
        f" element_at(transform(array({ltags}), ltags -> {final}), 1)), 1)"
    )


def decay_relevance_expr(
    *,
    timestamp: Column,
    last_accessed: Column,
    importance: Column,
    confidence: Column,
    rel_count: Column,
    now: Column,
) -> Column:
    """Consolidation decay score (consolidation.py:227-282):

    exp(-0.01*age_days) * (0.3 + 0.3*access_factor)
      * (1 + 0.3*ln(1+rel_count)) * (0.5+importance) * (0.7+0.3*confidence)
    floored at importance*0.3, capped 1.0;
    access_factor = 1 if accessed <1d else exp(-0.05*days_since_access).

    rel_count comes from edges.groupBy(src).count() — a single distributed
    agg replacing the reference's per-row lru_cache (consolidation.py:201-225).
    """
    age_days = F.greatest((now.cast("double") - timestamp.cast("double")) / 86400.0, F.lit(0.0))
    days_since_access = F.greatest(
        (now.cast("double") - last_accessed.cast("double")) / 86400.0, F.lit(0.0)
    )
    access_factor = F.when(last_accessed.isNull(), F.lit(0.0)).otherwise(
        F.when(days_since_access < 1.0, F.lit(1.0)).otherwise(
            F.exp(F.lit(-0.05) * days_since_access)
        )
    )
    imp = F.coalesce(importance.cast("double"), F.lit(0.5))
    conf = F.coalesce(confidence.cast("double"), F.lit(0.5))
    rels = F.coalesce(rel_count.cast("double"), F.lit(0.0))
    score = (
        F.exp(F.lit(-0.01) * age_days)
        * (F.lit(0.3) + F.lit(0.3) * access_factor)
        * (F.lit(1.0) + F.lit(0.3) * F.log(F.lit(1.0) + rels))
        * (F.lit(0.5) + imp)
        * (F.lit(0.7) + F.lit(0.3) * conf)
    )
    return F.least(F.greatest(score, imp * F.lit(0.3)), F.lit(1.0))


def protection_expr(
    *,
    protected: Column,
    importance: Column,
    timestamp: Column,
    mem_type: Column,
    now: Column,
    importance_threshold: float = 0.7,
    grace_days: float = 90.0,
    protected_types: tuple[str, ...] = ("Decision", "Insight"),
) -> Column:
    """Forgetting protection predicate (consolidation.py:284-332):
    explicit flag OR importance>=0.7 OR age<90d OR type in {Decision,Insight}."""
    age_days = (now.cast("double") - timestamp.cast("double")) / 86400.0
    return (
        F.coalesce(protected, F.lit(False))
        | (F.coalesce(importance.cast("double"), F.lit(0.0)) >= importance_threshold)
        | (age_days < grace_days)
        | mem_type.isin(*protected_types)
    )
