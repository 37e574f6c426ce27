"""Hybrid recall — the reference's flagship read query re-expressed as one
DataFrame program.

Reference lifecycle (automem/api/recall.py:1703-2611, SURVEY.md §3.1):
multi-channel candidate retrieval (vector ANN + keyword CONTAINS + metadata
sidecar + tag-only) → hybrid linear re-score → filters → dedup → sort → top-k.

Spark design: each channel is a DataFrame producing
(id, match_type, match_score, <memory cols>); channels union, dedup keeps the
highest-priority channel per id (vector > keyword > metadata > tag — the
reference's seen-id ordering, recall.py:1956-2062), then one score expression
re-ranks. Everything is JVM column expressions; the only Python is per-query
keyword extraction on the driver.

Scale notes: the corpus scan is shared across channels (one cached projection),
filters are pushed to the parquet scan, and the final sort is a top-k
(TakeOrderedAndProject), never a full sort at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automem_spark.functions.scoring import DEFAULT_WEIGHTS, Weights, hybrid_score_expr
from automem_spark.functions.tags import exclude_tags_expr, tag_filter_expr
from automem_spark.functions.text import (
    extract_keywords,
    fingerprint_fold_sql_spark,
    in_list_expr,
    sql_string_literal,
)
from automem_spark.functions.vector import cosine_expr
from automem_spark.plans.checkpoint import (
    collect_bounded,
    maybe_checkpoint,
    maybe_localize,
)
from automem_spark.plans.tuning import tuning_int

# Channel precedence for cross-channel dedup (vector beats keyword beats
# metadata beats tag/trending — recall.py:1956-2062).
CHANNEL_PRIORITY = {"vector": 4, "keyword": 3, "metadata": 2, "tag": 1, "trending": 1}

# Internal artifact types never surfaced (automem/config.py:164-166).
EXCLUDED_TYPES = ("MetaPattern",)

# F6/F7 as one parsed expression (every recall request builds it)
_BASE_FILTER_SQL = (
    "coalesce(`archived`, false) = false AND NOT coalesce(`type`, '') IN ("
    + ", ".join(f"'{t}'" for t in EXCLUDED_TYPES)
    + ")"
)

RECALL_VECTOR_OVERFETCH = 4  # config.py:150-159
RECALL_OVERFETCH_CAP = 200


@dataclass
class RecallRequest:
    query: str = ""
    limit: int = 5
    tags: list[str] = field(default_factory=list)
    exclude_tags: list[str] = field(default_factory=list)
    tag_mode: str = "any"
    tag_match: str = "prefix"
    start: str | None = None  # ISO timestamps
    end: str | None = None
    min_score: float | None = None
    sort: str = "score"  # score | time_desc | time_asc
    weights: Weights = DEFAULT_WEIGHTS


def effective_sort(req: RecallRequest, *, has_vector: bool = False) -> str:
    """W3 implicit time_desc (automem/api/recall.py:1784-1792): a
    time-bounded browse with no relevance signal (no query text, no
    embedding) is chronology, not ranking — default to newest-first unless
    the caller chose an explicit sort."""
    if (
        req.sort == "score"
        and not req.query.strip()
        and not has_vector
        and (req.start or req.end)
    ):
        return "time_desc"
    return req.sort


def base_filter(
    memories: DataFrame,
    req: RecallRequest,
    *,
    tags_col: str = "tags",
) -> DataFrame:
    """Shared candidate-pool predicates applied on every channel
    (archived F7, excluded types F6, time window F5, tag filters F1-F3).
    Applied once, before the channels fan out, so Catalyst pushes them into
    a single parquet scan."""
    out = memories.filter(F.expr(_BASE_FILTER_SQL))
    if req.start:
        out = out.filter(F.col("timestamp") >= F.lit(req.start).cast("timestamp"))
    if req.end:
        out = out.filter(F.col("timestamp") <= F.lit(req.end).cast("timestamp"))
    if req.tags:
        out = out.filter(
            tag_filter_expr(
                F.col(tags_col), req.tags, mode=req.tag_mode, match=req.tag_match
            )
        )
    if req.exclude_tags:
        out = out.filter(exclude_tags_expr(F.col(tags_col), req.exclude_tags))
    return out




def _keyword_raw_score_sql(keywords: list[str], phrase: str) -> str:
    """The R3 per-keyword CASE sum as SQL text — one F.expr instead of
    ~0.25s of py4j tree calls per query (emitted from the shared scorer
    spec; the DuckDB oracle twin comes from the same generator family).
    Bit-identical to the Column tree; pinned in
    tests/test_hybrid_score_fast.py."""
    from automem_spark.functions.scorespec import keyword_raw_score_sql_spark

    return keyword_raw_score_sql_spark(keywords, phrase, sql_string_literal)


def keyword_channel(pool: DataFrame, query: str, limit: int) -> DataFrame:
    """Graph keyword search (R3, runtime_recall_helpers.py:595-724).

    Per keyword: +2 if content CONTAINS kw, +1 if any tag CONTAINS kw; plus
    whole-phrase bonus (+2 content / +1 tag); normalized by 3*|kw| + 3;
    score > 0; ORDER BY score DESC, importance DESC, timestamp DESC LIMIT k.
    Implemented as a sum of CASE expressions — no explode, no shuffle until
    the final top-k — generated as SQL text and parsed with one F.expr.
    """
    normalized = query.strip().lower()
    keywords = extract_keywords(normalized)
    phrase = normalized if len(normalized) >= 3 else ""
    if not keywords and not phrase:
        return trending_channel(pool, limit)

    max_raw = 3 * len(keywords) + (3 if phrase else 0)
    out = (
        pool.withColumn("raw_score", F.expr(_keyword_raw_score_sql(keywords, phrase)))
        .filter(F.col("raw_score") > 0)
        .withColumn(
            "match_score", F.least(F.lit(1.0), F.col("raw_score") / F.lit(float(max_raw)))
        )
        .withColumn("match_type", F.lit("keyword"))
        # id ASC appended to the reference's (score, importance, ts) ordering
        # purely as a deterministic tiebreak at the LIMIT boundary.
        .orderBy(F.desc("raw_score"), F.desc("importance"), F.desc("timestamp"), F.asc("id"))
        .limit(limit)
        .drop("raw_score")
    )
    return out


#: Crossover for the single-scan keyword+metadata channel (r11). Below it
#: the composed two-scan shape wins locally: the fused path's extra 2-key
#: exchange stage (~0.15-0.3s fixed) costs more than re-scanning a corpus
#: the page cache already holds (measured: fused +8-10% at sf0.1/sf1, a
#: wash at sf10/500k rows). Above it the saved corpus scan is structural —
#: cluster executors reading object storage pay full price for the second
#: scan, while the fused shuffle stays bounded at ≤(limit+10) rows per
#: partition per channel. Compared against estimate_rows (plan stats, ~2x
#: high on parquet pools), so ~2M actual rows. Results are bit-identical
#: on both sides (tests/test_recall_fused.py) — a stats-error flip changes
#: the plan, never the output.
#:
#: Cold-cache evidence — the full bisected curve (r13, verdict ask #1;
#: scripts/fused_crossover.py, page caches dropped before every run,
#: min-of-3 per shape per pool, one JVM per shape, all runs idle-host):
#:
#:   50k rows   composed wins  (fused +14..24%)
#:   250k rows  composed wins  (fused +2.4%)
#:   500k rows  composed wins  (fused +21.4%)
#:   1M rows    FUSED wins     (composed +3.6%)
#:   2M rows    FUSED wins     (composed +21%, r12 — and +19% warm)
#:
#: The crossover sits in (500k, 1M) actual rows. estimate_rows runs ~2x
#: high on parquet pools, so the constant below (~750k actual) is
#: bracketed by a measured composed-wins point 1.5x below it and a
#: measured fused-wins point 1.3x above it. The r12 constant (4M ≈ 2M
#: actual) knowingly ran the composed shape across the (750k, 2M) band
#: where fused wins cold; the r12 doubt that warm+mid-size might prefer
#: composed was measured away at 2M (fused −19% warm). The curve is
#: non-monotonic in margin (250k is a near-tie) but single-crossing in
#: sign — dispatch needs only the sign.
RECALL_FUSE_SCAN_MIN_ROWS = 1_500_000


def _keyword_metadata_fused(
    pool: DataFrame,
    query: str,
    limit: int,
    meta_fields: dict[str, "Column"],
    *,
    metadata_json_col: str = "metadata",
) -> DataFrame | None:
    """R3 + R5 in ONE corpus scan (r11): the keyword channel and the
    metadata sidecar each scanned the full pool independently (two parquet
    scans of the corpus per recall — the dominant read-path IO at 100 TB
    and one whole extra scan job locally). Both scores are now computed in
    a single pass; each row explodes into its per-channel (match_type,
    sort_score, match_score) struct, and a per-channel window takes each
    channel's top slots with the channel's own ordering.

    Plan shape: one scan → explode (2 rows/row, match-filtered) →
    WindowGroupLimit partial (≤ limit+10 rows per partition per channel
    BEFORE the exchange — the rank filter below keeps a literal bound so
    InferWindowGroupLimit fires) → 2-key exchange of the bounded survivors
    → exact per-channel slot filter. Semantics are pinned bit-identical to
    keyword_channel ∪ metadata_channel by tests/test_recall_fused.py.

    Returns None when either channel is degenerate (no keywords AND no
    phrase, or no metadata value terms) — callers fall back to the
    composed channels for those shapes.
    """
    from automem_spark.operators.metadata_search import (
        METADATA_PREFILTER_MAX_TERMS,
        metadata_score_expr_fast,
        query_value_tokens,
    )

    normalized = query.strip().lower()
    keywords = extract_keywords(normalized)
    phrase = normalized if len(normalized) >= 3 else ""
    terms = query_value_tokens(query)[:METADATA_PREFILTER_MAX_TERMS]
    if (not keywords and not phrase) or not terms:
        return None
    cols = set(pool.columns)
    if not all(f in cols and str(v) == str(F.col(f)) for f, v in meta_fields.items()):
        return None  # arbitrary Column fields: keep the tree-builder path

    max_raw = 3 * len(keywords) + (3 if phrase else 0)
    meta_l = F.lower(F.coalesce(F.col(metadata_json_col), F.lit("")))
    prefilter = meta_l.contains(terms[0])
    for t in terms[1:]:
        prefilter = prefilter | meta_l.contains(t)
    meta_score = F.when(
        prefilter, metadata_score_expr_fast(list(meta_fields), query)
    ).otherwise(F.lit(0.0))
    kw_raw = F.expr(_keyword_raw_score_sql(keywords, phrase)).cast("double")

    # Stage both scores as columns in the Project UNDER the Generate: the
    # struct fields below reference each score twice, and Catalyst does not
    # collapse a Project into a generator expression — so each scorer runs
    # exactly ONCE per row (inlining them into the structs doubled the
    # per-row cost, measured 2x wall at sf1).
    # Staging-column collision: a pool that already carries one of these
    # names would be silently clobbered (the withColumn overwrites it and the
    # final drop removes it). Fall back to the composed two-scan channels,
    # which never stage columns — an advisor-demanded downgrade from an
    # assert, which crashed such pools above the fuse threshold and was
    # stripped entirely under `python -O` (r11 ADVICE).
    if any(staging in pool.columns for staging in ("_kw_raw", "_meta_sc", "_ch")):
        return None
    staged = pool.withColumn("_kw_raw", kw_raw).withColumn("_meta_sc", meta_score)
    ch = F.explode(
        F.array(
            F.struct(
                F.lit("keyword").alias("match_type"),
                F.col("_kw_raw").alias("sort_score"),
                F.least(
                    F.lit(1.0), F.col("_kw_raw") / F.lit(float(max_raw))
                ).alias("match_score"),
            ),
            F.struct(
                F.lit("metadata").alias("match_type"),
                F.col("_meta_sc").alias("sort_score"),
                F.col("_meta_sc").alias("match_score"),
            ),
        )
    )
    slots = min(limit, 10)
    exploded = (
        staged.select("*", ch.alias("_ch"))
        .select("*", "_ch.match_type", "_ch.sort_score", "_ch.match_score")
        .drop("_ch", "_kw_raw", "_meta_sc")
        .filter(F.col("sort_score") > 0)
    )
    w_ch = Window.partitionBy("match_type").orderBy(
        F.desc("sort_score"), F.desc("importance"), F.desc("timestamp"), F.asc("id")
    )
    return (
        exploded.withColumn("_rk", F.row_number().over(w_ch))
        # literal bound first so WindowGroupLimit prunes per-partition
        # BEFORE the exchange; the CASE applies each channel's exact slots
        .filter(F.col("_rk") <= max(limit, slots))
        .filter(
            F.col("_rk")
            <= F.when(F.col("match_type") == "keyword", F.lit(limit)).otherwise(
                F.lit(slots)
            )
        )
        .drop("_rk", "sort_score")
    )


def trending_channel(pool: DataFrame, limit: int) -> DataFrame:
    """Empty/'*' query fallback: importance DESC, timestamp DESC
    (runtime_recall_helpers.py:524-592). score = importance."""
    return (
        pool.orderBy(F.desc("importance"), F.desc("timestamp"), F.asc("id"))
        .limit(limit)
        .withColumn("match_score", F.col("importance").cast("double"))
        .withColumn("match_type", F.lit("trending"))
    )


def vector_channel(
    pool: DataFrame,
    query_vector: list[float] | None,
    limit: int,
    embedding_col: str = "embedding",
) -> DataFrame:
    """Vector top-K (R1) with over-fetch for re-ranking (R2): fetch
    max(limit, min(limit × 4, 200)) — the outer max matches the reference's
    clamp (recall.py:1967-1971) so requests with limit > 200 still fetch at
    least `limit` candidates. Cosine in double precision.

    Local/correctness path: exact brute-force cosine + top-k. The scale path
    for many queries at once is operators/similarity.py (mapInPandas matmul
    or LSH)."""
    if query_vector is None:
        return None  # type: ignore[return-value]
    k = max(limit, min(limit * RECALL_VECTOR_OVERFETCH, RECALL_OVERFETCH_CAP))
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    # r14: bind the two norms as DataFrame-level aliases. Inline,
    # cosine_expr's denominator appears in both the zero-guard and the
    # divisor, and Catalyst cannot CSE across HOF lambdas — FIVE O(d)
    # aggregate passes per pool row (2×norm(emb), 2×norm(qv), dot). Bound
    # norms are multi-referenced non-cheap aliases, so CollapseProject
    # keeps them: 3 passes per row. denom = ne*nq is the identical
    # product in the identical order — match_score is bit-identical
    # (recall-family oracle rows + golden rankings pin it).
    from automem_spark.functions.vector import dot_expr, norm_expr

    denom = F.col("_vec_ne") * F.col("_vec_nq")
    return (
        pool.withColumn("_vec_ne", norm_expr(F.col(embedding_col)))
        .withColumn("_vec_nq", norm_expr(qv))
        .withColumn(
            "match_score",
            F.when(denom == 0.0, F.lit(0.0)).otherwise(
                dot_expr(F.col(embedding_col), qv) / denom
            ),
        )
        .drop("_vec_ne", "_vec_nq")
        .orderBy(F.desc("match_score"), F.asc("id"))
        .limit(k)
        .withColumn("match_type", F.lit("vector"))
    )


def recall_many(
    memories: DataFrame,
    queries: list[tuple[str, str]],
    limit: int,
    *,
    now: str = "2026-06-01 00:00:00",
    w: Weights = DEFAULT_WEIGHTS,
) -> DataFrame:
    """Multi-query recall as ONE job (R10/R11, recall.py:1740-1742,
    :2151-2223) — the queries-as-DataFrame design from SURVEY.md §3.1: N
    recall requests broadcast against a single corpus pass instead of N
    sequential store round-trips. This is the LoCoMo/LongMemEval harness
    shape (hundreds of questions over one corpus).

    queries: [(query_id, query_text)] — tokens extracted driver-side with
    the reference tokenizer so semantics match single-query recall exactly.
    Output: (query_id, id, match_score, final_score, rank<=limit per query).

    Plan shape: corpus scan (shared, filters pushed down) × broadcast
    queries → keyword score via an aggregate() over the per-query token
    array → per-query window top-k. One shuffle (the window), regardless of
    query count.
    """
    spark = memories.sparkSession
    rows = []
    for qid, text in queries:
        normalized = text.strip().lower()
        toks = extract_keywords(normalized)
        phrase = normalized if len(normalized) >= 3 else ""
        rows.append((qid, toks, phrase, 3 * len(toks) + (3 if phrase else 0)))
    qdf = F.broadcast(
        spark.createDataFrame(
            rows, "query_id string, tokens array<string>, phrase string, max_raw int"
        )
    )

    pool = base_filter(memories, RecallRequest())
    # r14: bind lowered content/tags per corpus row BEFORE the query cross
    # join. Inline, both subtrees sat in the kw_raw/tag_hits lambda bodies
    # and re-evaluated per (row × query × token) — lambda bodies re-run
    # per element and Catalyst does not CSE across HOF lambdas. Bound,
    # they run once per corpus row; all references are attribute reads.
    # Values unchanged (multi_recall oracle row + two-phase-ordering tests
    # pin the scores).
    pool = pool.withColumn(
        "_kw_content", F.lower(F.coalesce(F.col("content"), F.lit("")))
    ).withColumn(
        "_kw_tags",
        F.transform(F.coalesce(F.col("tags"), F.array()), lambda t: F.lower(t)),
    )
    content = F.col("_kw_content")
    tags_l = F.col("_kw_tags")

    kw_raw = F.aggregate(
        F.col("tokens"),
        F.lit(0),
        lambda acc, kw: acc
        + F.when(content.contains(kw), F.lit(2)).otherwise(F.lit(0))
        + F.when(F.exists(tags_l, lambda t: t.contains(kw)), F.lit(1)).otherwise(F.lit(0)),
    )
    phrase_bonus = F.when(
        (F.col("phrase") != "") & content.contains(F.col("phrase")), F.lit(2)
    ).otherwise(F.lit(0)) + F.when(
        (F.col("phrase") != "") & F.exists(tags_l, lambda t: t.contains(F.col("phrase"))),
        F.lit(1),
    ).otherwise(F.lit(0))

    scored = (
        pool.crossJoin(qdf)
        .withColumn("raw_score", (kw_raw + phrase_bonus).cast("double"))
        .filter(F.col("raw_score") > 0)
        .withColumn(
            "match_score",
            F.least(F.lit(1.0), F.col("raw_score") / F.col("max_raw").cast("double")),
        )
    )
    # hybrid re-score (keyword channel semantics: keyword_c = min(1, score),
    # tag_score over the query's own tokens)
    now_col = F.lit(now).cast("timestamp")
    tag_hits = F.aggregate(
        F.col("tokens"),
        F.lit(0),
        lambda acc, kw: acc + F.array_contains(tags_l, kw).cast("int"),
    )
    tag_score = F.when(
        F.size(F.col("tokens")) > 0,
        F.least(F.lit(1.0), tag_hits / F.size(F.col("tokens")).cast("double")),
    ).otherwise(F.lit(0.0))
    recency = F.when(F.col("timestamp").isNull(), F.lit(0.0)).otherwise(
        F.greatest(
            F.lit(0.0),
            F.lit(1.0)
            - F.greatest((now_col.cast("double") - F.col("timestamp").cast("double")) / 86400.0, F.lit(0.0))
            / F.lit(w.recency_window_days),
        )
    )
    final = (
        F.lit(w.keyword) * F.least(F.lit(1.0), F.col("match_score"))
        + F.lit(w.tag) * tag_score
        + F.lit(w.importance) * F.coalesce(F.col("importance"), F.lit(0.0))
        + F.lit(w.confidence) * F.coalesce(F.col("confidence"), F.lit(0.0))
        + F.lit(w.recency) * recency
    )
    scored = scored.withColumn("final_score", final)
    # Two-phase ordering, exactly N× single-query recall (r12): slot
    # SELECTION is the keyword channel's raw ordering (raw DESC,
    # importance, timestamp, id — runtime_recall_helpers.py:595-724), but
    # the OUTPUT rank is the W1 blended sort the single-query path applies
    # after scoring (final DESC, match_score, importance, timestamp, id).
    # Before r12 the raw rank was also the output rank, so batch recall
    # disagreed with recall() whenever the blend reordered the kept
    # candidates — surfaced by the XL QA near-dup family. Both windows
    # share the query_id partitioning, so Catalyst plans ONE exchange.
    w_slot = Window.partitionBy("query_id").orderBy(
        F.desc("raw_score"), F.desc("importance"), F.desc("timestamp"), F.asc("id")
    )
    kept = scored.withColumn("_slot", F.row_number().over(w_slot)).filter(
        F.col("_slot") <= limit
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("final_score"), F.desc("match_score"), F.desc("importance"),
        F.desc("timestamp"), F.asc("id"),
    )
    return (
        kept.withColumn("rank", F.row_number().over(w_rank))
        .select("query_id", "id", "match_score", "final_score", "rank")
    )


def recall_many_hybrid(
    memories: DataFrame,
    queries: list[tuple[str, str]],
    limit: int,
    *,
    query_vectors: dict[str, list[float]] | None = None,
    meta_fields: dict[str, Column] | None = None,
    now: str = "2026-06-01 00:00:00",
    w: Weights = DEFAULT_WEIGHTS,
) -> DataFrame:
    """R10/R11 multi-query recall with ALL channels — vector, keyword, and
    metadata — so multi-query ≡ N× single-query recall semantics
    (recall.py:1939-2149 per sub-query). One corpus pass for N queries.

    Channel semantics per query, mirroring recall():
    - vector: cosine top-k' (overfetch ×4 capped at 200, recall.py:1967-1971)
    - keyword: fills only max(0, limit - |vector|) remaining slots, with
      vector ids excluded from the keyword pool first (recall.py:1999-2013)
    - metadata: sidecar scorer, ≤ min(limit, 10) slots (recall.py:2015-2040)
    Channel precedence on overlap: vector > keyword > metadata, applied as
    one CASE (the union+dedup of the single-query path collapses to this).
    The X2 gating rules apply per row: the vector/metadata components count
    only for rows matched by that channel; the keyword component falls back
    to content-token overlap for non-keyword matches.

    The per-query metadata scorer is driver-specialized (requested-field
    parse, value tokens), so it enters the plan as a CASE keyed on query_id
    — still a single corpus scan, no per-query jobs.

    Scale shape: NO per-query corpus-wide window anywhere. The vector
    channel is the similarity.py partial-top-k contract (per-partition
    NumPy matmul + heap, shuffle O(parts × Q × k)); keyword and metadata
    rank only match-bounded eligible rows through a two-stage
    (group × partition)-then-group top-k; the final rank runs over ≤
    (k + limit + 10) candidates per query. Candidate frames are broadcast
    back against the corpus for hydration, never the reverse.

    Output: (query_id, id, match_type, match_score, final_score, rank).
    """
    from automem_spark.operators.similarity import cosine_topk_mapinpandas
    from automem_spark.operators.topk import partial_top_k_per_group

    spark = memories.sparkSession
    vecs = query_vectors or {}
    rows = []
    for qid, text in queries:
        normalized = text.strip().lower()
        toks = extract_keywords(normalized)
        phrase = normalized if len(normalized) >= 3 else ""
        rows.append((qid, toks, phrase, 3 * len(toks) + (3 if phrase else 0)))
    qdf = F.broadcast(
        spark.createDataFrame(
            rows,
            "query_id string, tokens array<string>, phrase string, max_raw int",
        )
    )

    pool = base_filter(memories, RecallRequest())

    # --- vector channel (R1/R2): partial top-k per partition ---
    k = max(limit, min(limit * RECALL_VECTOR_OVERFETCH, RECALL_OVERFETCH_CAP))
    qmat = [
        (qid, [float(x) for x in vecs[qid]])
        for qid, _ in queries
        if vecs.get(qid) is not None
    ]
    if qmat and "embedding" in memories.columns:
        winners = cosine_topk_mapinpandas(
            pool.filter(F.col("embedding").isNotNull()),
            qmat,
            k,
            item_id="id",
            item_vec="embedding",
        )
    else:
        winners = spark.createDataFrame([], "query_id string, id long, sim double")
    # Q×k rows feeding three consumers (vector candidates, keyword slot
    # counts, precedence anti-joins) — materialize once instead of
    # recomputing the corpus matmul per consumer.
    winners = maybe_checkpoint(winners)
    n_vec = winners.groupBy("query_id").agg(F.count("*").alias("_n_vec"))

    # r14: bind lowered content/tags once per corpus row before the query
    # cross join (see recall_many — the inline subtrees re-evaluated per
    # (row × query × token) inside the HOF lambda bodies)
    j = pool.withColumn(
        "_kw_content", F.lower(F.coalesce(F.col("content"), F.lit("")))
    ).withColumn(
        "_kw_tags",
        F.transform(F.coalesce(F.col("tags"), F.array()), lambda t: F.lower(t)),
    ).crossJoin(qdf)
    content = F.col("_kw_content")
    tags_l = F.col("_kw_tags")

    # --- keyword channel (R3), remaining-slot gated ---
    kw_raw = F.aggregate(
        F.col("tokens"),
        F.lit(0),
        lambda acc, kw: acc
        + F.when(content.contains(kw), F.lit(2)).otherwise(F.lit(0))
        + F.when(F.exists(tags_l, lambda t: t.contains(kw)), F.lit(1)).otherwise(F.lit(0)),
    )
    phrase_bonus = F.when(
        (F.col("phrase") != "") & content.contains(F.col("phrase")), F.lit(2)
    ).otherwise(F.lit(0)) + F.when(
        (F.col("phrase") != "") & F.exists(tags_l, lambda t: t.contains(F.col("phrase"))),
        F.lit(1),
    ).otherwise(F.lit(0))
    kw_elig = (
        j.withColumn("raw_score", (kw_raw + phrase_bonus).cast("double"))
        .filter(F.col("raw_score") > 0)
        .select("query_id", "id", "raw_score", "max_raw", "importance", "timestamp")
        .join(
            F.broadcast(winners.select("query_id", "id")),
            ["query_id", "id"],
            "left_anti",
        )
    )
    kw_top = partial_top_k_per_group(
        kw_elig,
        ["query_id"],
        [F.desc("raw_score"), F.desc("importance"), F.desc("timestamp"), F.asc("id")],
        limit,
        rank_col="_kwrank",
        keep_rank=True,
    )
    kw_sel = kw_top.join(F.broadcast(n_vec), "query_id", "left").filter(
        F.col("_kwrank")
        <= F.greatest(F.lit(limit) - F.coalesce(F.col("_n_vec"), F.lit(0)), F.lit(0))
    )

    # --- metadata sidecar channel (R5), per-query specialized scorer ---
    if meta_fields:
        from automem_spark.operators.metadata_search import (
            metadata_score_expr,
            metadata_score_expr_fast,
        )

        # one-F.expr scorer per query when the fields are plain columns
        # (the tree builder costs ~0.65 s of py4j calls PER QUERY — the
        # dominant driver-side cost of the multi-query plan build)
        _jcols = set(j.columns)
        fast = all(
            k in _jcols and str(v) == str(F.col(k)) for k, v in meta_fields.items()
        )
        md_expr: Column | None = None
        for qid, text in queries:
            if fast:
                e = metadata_score_expr_fast(list(meta_fields), text)
            else:
                e = metadata_score_expr(meta_fields, text)
            md_expr = (
                F.when(F.col("query_id") == qid, e)
                if md_expr is None
                else md_expr.when(F.col("query_id") == qid, e)
            )
        md = j.withColumn("_md", F.coalesce(md_expr, F.lit(0.0)))
    else:
        md = j.withColumn("_md", F.lit(0.0))
    md_elig = md.filter(F.col("_md") > 0).select(
        "query_id", "id", "_md", "importance", "timestamp"
    )
    # ranked against the full eligible set (slots are consumed by rows later
    # dropped for precedence — matching the single-query channel semantics)
    md_top = partial_top_k_per_group(
        md_elig,
        ["query_id"],
        [F.desc("_md"), F.desc("importance"), F.desc("timestamp"), F.asc("id")],
        min(limit, 10),
    )
    md_cand = md_top.join(
        F.broadcast(winners.select("query_id", "id")), ["query_id", "id"], "left_anti"
    ).join(
        F.broadcast(kw_sel.select("query_id", "id")), ["query_id", "id"], "left_anti"
    )

    # --- channel union with precedence (vector > keyword > metadata) ---
    cand = (
        winners.select(
            "query_id",
            "id",
            F.lit("vector").alias("match_type"),
            F.col("sim").alias("match_score"),
        )
        .unionByName(
            kw_sel.select(
                "query_id",
                "id",
                F.lit("keyword").alias("match_type"),
                F.least(
                    F.lit(1.0), F.col("raw_score") / F.col("max_raw").cast("double")
                ).alias("match_score"),
            )
        )
        .unionByName(
            md_cand.select(
                "query_id",
                "id",
                F.lit("metadata").alias("match_type"),
                F.col("_md").alias("match_score"),
            )
        )
    )

    # --- hydrate doc columns for the blend: candidates are bounded, so they
    # broadcast back against the corpus (never the reverse) ---
    cand = (
        pool.select("id", "content", "tags", "importance", "confidence", "timestamp")
        .withColumn(
            "_kw_tags",
            F.transform(F.coalesce(F.col("tags"), F.array()), lambda t: F.lower(t)),
        )
        .join(F.broadcast(cand), "id")
        .join(qdf, "query_id")
    )

    # --- X1/X2 hybrid blend with per-query token arrays ---
    now_col = F.lit(now).cast("timestamp")
    from automem_spark.functions.text import content_tokens_expr

    # bound once per candidate row (the kw_hits lambda re-evaluates its
    # body per token — same no-CSE class as the channel scoring above)
    cand = cand.withColumn("_kw_ctoks", content_tokens_expr(F.col("content")))
    ctoks = F.col("_kw_ctoks")
    kw_hits = F.aggregate(
        F.col("tokens"),
        F.lit(0),
        lambda acc, kw: acc + F.array_contains(ctoks, kw).cast("int"),
    )
    kw_fallback = F.when(
        (F.size(F.col("tokens")) > 0)
        & (F.length(F.coalesce(F.col("content"), F.lit(""))) > 0),
        kw_hits / F.size(F.col("tokens")).cast("double"),
    ).otherwise(F.lit(0.0))
    keyword_c = F.when(
        F.col("match_type").isin("keyword", "trending"),
        F.least(F.lit(1.0), F.coalesce(F.col("match_score"), F.lit(0.0))),
    ).otherwise(kw_fallback)
    vector_c = F.when(
        F.col("match_type") == "vector", F.coalesce(F.col("match_score"), F.lit(0.0))
    ).otherwise(F.lit(0.0))
    metadata_c = F.when(
        F.col("match_type") == "metadata", F.coalesce(F.col("match_score"), F.lit(0.0))
    ).otherwise(F.lit(0.0))
    tag_hits = F.aggregate(
        F.col("tokens"),
        F.lit(0),
        lambda acc, kw: acc + F.array_contains(tags_l, kw).cast("int"),
    )
    tag_c = F.when(
        F.size(F.col("tokens")) > 0,
        F.least(F.lit(1.0), tag_hits / F.size(F.col("tokens")).cast("double")),
    ).otherwise(F.lit(0.0))
    recency_c = F.when(F.col("timestamp").isNull(), F.lit(0.0)).otherwise(
        F.greatest(
            F.lit(0.0),
            F.lit(1.0)
            - F.greatest(
                (now_col.cast("double") - F.col("timestamp").cast("double")) / 86400.0,
                F.lit(0.0),
            )
            / F.lit(w.recency_window_days),
        )
    )
    final = (
        F.lit(w.vector) * vector_c
        + F.lit(w.keyword) * keyword_c
        + F.lit(w.metadata) * metadata_c
        + F.lit(w.tag) * tag_c
        + F.lit(w.importance) * F.coalesce(F.col("importance"), F.lit(0.0))
        + F.lit(w.confidence) * F.coalesce(F.col("confidence"), F.lit(0.0))
        + F.lit(w.recency) * recency_c
    )
    cand = cand.withColumn("final_score", final)

    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("final_score"), F.desc("match_score"), F.desc("importance"),
        F.desc("timestamp"), F.asc("id"),
    )
    return (
        cand.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= limit)
        .select("query_id", "id", "match_type", "match_score", "final_score", "rank")
    )


def recall_with_scope_fallback(
    memories: DataFrame,
    req: RecallRequest,
    *,
    now: str = "2026-06-01 00:00:00",
) -> DataFrame:
    """SO4 scope fallback (recall.py:772-914, :2399-2432): when a tag-scoped
    query returns fewer than `limit` rows, fill the remainder with UNSCOPED
    results — appended after the scoped block, never interleaved, and rows
    that match the scope (in-scope candidates) are refused from the fallback
    pool. Output adds `in_scope` and a stable `position`.
    """
    scoped = recall(memories, req, now=now).withColumn("in_scope", F.lit(True))
    unscoped_req = RecallRequest(
        query=req.query,
        limit=req.limit,
        exclude_tags=req.exclude_tags,
        tag_mode=req.tag_mode,
        tag_match=req.tag_match,
        start=req.start,
        end=req.end,
        min_score=req.min_score,
        sort=req.sort,
        weights=req.weights,
    )
    fallback_pool = memories.filter(
        ~tag_filter_expr(F.col("tags"), req.tags, mode=req.tag_mode, match=req.tag_match)
    )
    fills = (
        recall(fallback_pool, unscoped_req, now=now)
        .join(scoped.select("id"), "id", "left_anti")
        .withColumn("in_scope", F.lit(False))
    )
    w_scoped = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("in_scope"),
        F.desc("final_score"),
        F.desc("match_score"),
        F.desc("importance"),
        F.desc("timestamp"),
        F.asc("id"),
    )
    return (
        scoped.unionByName(fills)
        .withColumn("position", F.row_number().over(w_scoped))
        .filter(F.col("position") <= req.limit)
    )


def inject_priority_ids(
    results: DataFrame,
    memories: DataFrame,
    priority_ids: list,
    *,
    limit: int,
    now: str = "2026-06-01 00:00:00",
) -> DataFrame:
    """J11 priority-id injection (recall.py:1094-1312): explicitly requested
    ids are fetched (archived still excluded), appended as
    match_type='priority_id' if absent, and the final ordering guarantees
    they come first (anchor ordering), then score order.

    Both inputs are bounded (the request's results, ≤ |priority_ids|
    fetched rows), so they meet in ONE partition: a fetched row is dropped
    when a result row carries its id (the anti-join, as a per-id window),
    and the same partition serves the position window — one exchange, and
    `results` is computed once."""
    is_priority = in_list_expr("id", priority_ids)
    wanted = memories.filter(
        is_priority
        & (F.coalesce(F.col("archived"), F.lit(False)) == False)  # noqa: E712
    )
    fill = {
        "match_type": "'priority_id'",
        "match_score": "CAST(0.0 AS DOUBLE)",
        "final_score": "CAST(0.0 AS DOUBLE)",
    }
    injected = wanted.selectExpr(
        *[f"{fill.get(c, f'`{c}`')} AS `{c}`" for c in results.columns], "1 AS _inj"
    )
    combined = (
        results.selectExpr("*", "0 AS _inj")
        .unionByName(injected)
        .repartition(1)
        .withColumns(
            {
                "_first": F.expr("min(_inj) OVER (PARTITION BY id)"),
                "_pin": is_priority.cast("int"),
            }
        )
        .filter("_inj = _first")
    )
    position = F.expr(
        "row_number() OVER (ORDER BY _pin DESC, final_score DESC,"
        " match_score DESC, importance DESC, timestamp DESC, id ASC)"
    )
    return (
        combined.withColumn("position", position)
        .filter(f"position <= {int(limit)}")
        .drop("_inj", "_first", "_pin")
    )


def adaptive_score_floor(
    results: DataFrame,
    *,
    score_col: str = "final_score",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """F10 (recall.py:2355-2375), faithful semantics:

    Only when n > 3. Sort scores desc; halfway = max(3, n//2); find the
    largest positive gap scores[i-1]-scores[i] for i in [1, halfway)
    (first occurrence wins). If max_gap > 0.25*scores[0], the floor is the
    score BELOW the gap and rows with score >= floor survive — applied only
    if at least (n+1)//2 rows survive.

    Window shape: four dependent window steps over the (optionally
    per-query) candidate set — (rank, gap, n, top), then max gap, then the
    floor (the score at the first row carrying the max gap, as a struct min
    ordered by rank), then the retained count. Same-spec columns share one
    `withColumns`; candidate sets are bounded (overfetch cap 200), so the
    windows are cheap.
    """
    sc = f"`{score_col}`"
    w = _over(partition_cols, f"{sc} DESC, `id` ASC")
    wall = _over(partition_cols)
    step1 = results.withColumns(
        {
            "_rn": F.expr(f"row_number() {w}"),
            "_gap": F.expr(f"lag({sc}) {w} - {sc}"),
            "_n": F.expr(f"count(1) {wall}"),
            "_top": F.expr(f"max({sc}) {wall}"),
        }
    )
    # gaps at 1-indexed positions i in [2, halfway] (list index 1..halfway-1)
    cand_gap = (
        "CASE WHEN `_rn` >= 2 AND `_rn` <= greatest(3, floor(`_n` / 2))"
        " AND `_gap` > 0 THEN `_gap` END"
    )
    step2 = step1.withColumns(
        {"_cand_gap": F.expr(cand_gap), "_max_gap": F.expr(f"max({cand_gap}) {wall}")}
    )
    # first occurrence of the max gap wins: the lowest rank carrying it
    step3 = step2.withColumn(
        "_floor",
        F.expr(
            f"min(CASE WHEN `_cand_gap` = `_max_gap` THEN struct(`_rn`, {sc}) END)"
            f" {wall}"
        )[score_col],
    )
    step4 = step3.withColumn(
        "_retained",
        F.expr(f"sum(CASE WHEN {sc} >= `_floor` THEN 1 ELSE 0 END) {wall}"),
    )
    applies = (
        "`_n` > 3 AND `_max_gap` IS NOT NULL"
        " AND `_max_gap` > CAST(0.25 AS DOUBLE) * `_top`"
        " AND `_retained` >= floor((`_n` + 1) / 2)"
    )
    return (
        step4.filter(F.expr(f"NOT coalesce({applies}, false) OR {sc} >= `_floor`"))
        .drop("_rn", "_n", "_top", "_gap", "_cand_gap", "_max_gap", "_floor", "_retained")
    )


def _over(partition_cols: list[str] | None, order_sql: str = "") -> str:
    """A window clause as SQL text: the re-rank windows below are built as
    one parsed expression each instead of a py4j Column tree."""
    spec = []
    if partition_cols:
        spec.append("PARTITION BY " + ", ".join(f"`{c}`" for c in partition_cols))
    if order_sql:
        spec.append("ORDER BY " + order_sql)
    return f"OVER ({' '.join(spec)})"


def recency_rerank(
    results: DataFrame,
    *,
    score_col: str = "final_score",
    ts_col: str = "timestamp",
    weight: float = 0.1,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """W5 (recall.py:2315-2349): min-max normalize timestamps over the
    current candidate set and add weight × rel_recency to the score."""
    epoch = f"CAST(`{ts_col}` AS DOUBLE)"
    wall = _over(partition_cols)
    tmin, tmax = f"min({epoch}) {wall}", f"max({epoch}) {wall}"
    rel = (
        f"CASE WHEN {tmax} > {tmin} THEN ({epoch} - {tmin}) / ({tmax} - {tmin})"
        " ELSE CAST(0.0 AS DOUBLE) END"
    )
    return results.withColumn(
        score_col, F.expr(f"`{score_col}` + CAST({weight!r} AS DOUBLE) * ({rel})")
    )


# dedup_results' two key expressions as static SQL text (one F.expr each
# instead of ~0.2s of py4j tree calls per query). The fp let-binding also
# evaluates the 5-regex fingerprint chain once per row where the Column
# twin (fingerprint_expr's when/otherwise) inlined it twice. Equivalence
# with the Column forms is pinned in tests/test_hybrid_score_fast.py.
# R7 dedup key: memory id, falling back to the X9 content fingerprint
# (fold emitted from the shared FINGERPRINT_STEPS spec in functions/text.py;
# `fp` let-binding evaluates the fold once for the empty-string check).
_DEDUP_KEY_SQL = (
    "coalesce(CAST(`id` AS STRING), element_at(transform(array("
    + fingerprint_fold_sql_spark("`content`")
    + "), fp ->"
    " CASE WHEN fp = '' THEN CAST(NULL AS STRING) ELSE fp END), 1))"
)
_CHANNEL_PRIORITY_SQL = (
    "CASE `match_type` "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in CHANNEL_PRIORITY.items())
    + " ELSE 0 END"
)


def dedup_results(results: DataFrame, score_col: str = "final_score") -> DataFrame:
    """Result dedup (R7, recall.py:310-389): bucket by id OR content
    fingerprint; keep the highest (channel_priority, score, timestamp) row.
    max_by over a struct replaces the reference's ordered-dict insertion."""
    keyed = results.withColumn("dedup_key", F.expr(_DEDUP_KEY_SQL)).withColumn(
        "channel_priority", F.expr(_CHANNEL_PRIORITY_SQL)
    )
    w = Window.partitionBy("dedup_key").orderBy(
        F.desc("channel_priority"), F.desc(score_col), F.desc("timestamp")
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "dedup_key", "channel_priority")
    )


def recall_full(
    memories: DataFrame,
    edges: DataFrame,
    req: RecallRequest,
    *,
    priority_tags: list[str] | None = None,
    priority_types: list[str] | None = None,
    priority_ids: list | None = None,
    now: str = "2026-06-01 00:00:00",
) -> DataFrame:
    """The COMPLETE §3.1 recall composition as one DataFrame program
    (automem/api/recall.py:1703-2611) — every post-channel stage chained in
    the reference's order:

      channels (R3 keyword here; vector/metadata join via recall())      3b-3e
      → hybrid score X1/X2/X3 + X5 context bonus                         3f
      → dedup R7                                                         3g/4
      → J2 relation expansion + J3 entity expansion (SO3 concat)         5
      → J5 current-state filter + supersession head injection            6
      → W5 relative-recency re-rank                                      7
      → F10 adaptive score floor                                         8
      → J11 priority-id injection + first-position guarantee             (4h)

    Candidate precedence on the SO3 union mirrors the reference's seen-id
    insertion order: channel results win over relation expansions, which
    win over entity expansions (expansions are appended only for unseen
    ids, recall.py:2239-2297).

    Scale shape: the seed set (≤ limit rows) and the candidate set
    (≤ limit + 2×25) are each materialized once on the driver as local
    frames, so their ids reach the edge and memory scans as pushed `IN`
    filters. Relation expansion broadcasts only the seeds' incident edges
    and streams the corpus against them; entity expansion scans the corpus
    once with literal slugs, and its one shuffle carries the map-side
    top-k survivors; the J5 walk follows only the candidates' supersession
    chains. Nothing corpus-sized is broadcast or shuffled, no sort-merge
    join runs, and the re-rank windows run over the bounded candidates.
    A request runs about a dozen Spark jobs (pinned ≤ 16 in
    tests/test_recall_full_scope.py).

    Output: (id, match_type, position, final_score).
    """
    from automem_spark.functions.scoring import (
        context_bonus_expr,
        context_bonus_sql_spark,
        hybrid_score_sql_spark,
    )
    from automem_spark.operators.entities import entity_expand
    from automem_spark.operators.graph import expand_relations
    from automem_spark.operators.state import current_state_filter

    pool = base_filter(memories, req)
    tokens = extract_keywords(req.query.strip().lower())

    # 3b-3f: keyword channel + hybrid score + X5 context bonus
    ctx = dict(
        priority_tags=priority_tags,
        priority_types=priority_types,
        priority_ids=priority_ids,
        w=req.weights,
    )
    if tokens and req.weights.relevance_gate > 0:
        score = hybrid_score_expr(
            match_type=F.col("match_type"),
            match_score=F.col("match_score"),
            content=F.col("content"),
            tags=F.col("tags"),
            importance=F.col("importance"),
            confidence=F.col("confidence"),
            timestamp=F.col("timestamp"),
            now=F.lit(now).cast("timestamp"),
            tokens=tokens,
            w=req.weights,
        ) + context_bonus_expr(
            tags=F.col("tags"), mem_type=F.col("type"), mem_id=F.col("id"), **ctx
        )
    else:
        # one F.expr for the whole blend (the tree costs ~0.25 s of py4j
        # calls per request; equivalence test-pinned)
        score = F.expr(
            f"({hybrid_score_sql_spark(tokens=tokens, now=now, w=req.weights)})"
            f" + ({context_bonus_sql_spark(**ctx)})"
        )
    seeds = keyword_channel(pool, req.query, req.limit).withColumn("final_score", score)
    # R7 (id-unique already; fingerprint guard). Bounded, with three
    # consumers (both expansions and the SO3 union): one job, held locally.
    seeds = maybe_localize(
        dedup_results(seeds).select(
            "id", "match_type", "match_score", "final_score", "tags"
        )
    )

    # 5: J2 relation expansion + J3 entity expansion, appended for unseen ids
    rel = expand_relations(seeds, edges, memories).selectExpr(
        "dst AS id", "'relation' AS match_type", "CAST(0.0 AS DOUBLE) AS match_score",
        "relation_score AS final_score", "2 AS _prio",
    )
    ent = entity_expand(seeds, memories, query_tokens=tokens, now=now).selectExpr(
        "id", "'entity_expansion' AS match_type", "CAST(0.0 AS DOUBLE) AS match_score",
        "final_score", "1 AS _prio",
    )
    cand = (
        seeds.selectExpr("id", "match_type", "match_score", "final_score", "3 AS _prio")
        .unionByName(rel)
        .unionByName(ent)
    )
    # bounded (≤ limit + 2×25): one task dedups it, and the state filter
    # reads it from the driver
    cand = maybe_localize(
        cand.coalesce(1)
        .withColumn(
            "_rn",
            F.expr(
                "row_number() OVER (PARTITION BY id"
                " ORDER BY _prio DESC, final_score DESC, match_type ASC)"
            ),
        )
        .filter("_rn = 1")
        .drop("_rn", "_prio")
    )

    # 6: J5 bitemporal filter + supersession replacement injection.
    # keep_order_cols carries importance/timestamp out of the filter's own
    # bounded id read — no corpus re-join (and no corpus broadcast) here.
    stated = current_state_filter(
        cand, memories, edges, now=now, keep_order_cols=True
    ).drop("position", "state_replaces")
    # rehydrate channel match_score (injected heads were never candidates -> 0)
    hydrated = stated.join(
        F.broadcast(cand.select("id", "match_score")), "id", "left"
    ).withColumn("match_score", F.coalesce(F.col("match_score"), F.lit(0.0)))

    # 7: W5 relative recency; 8: F10 adaptive floor
    floored = adaptive_score_floor(recency_rerank(hydrated))

    # J11: priority-id injection + first-position guarantee
    if priority_ids:
        out = inject_priority_ids(
            floored, memories, priority_ids, limit=req.limit, now=now
        )
    else:
        w_final = Window.orderBy(
            F.desc("final_score"), F.desc("match_score"),
            F.desc("importance"), F.desc("timestamp"), F.asc("id"),
        )
        out = floored.withColumn("position", F.row_number().over(w_final)).filter(
            F.col("position") <= req.limit
        )
    return out.select("id", "match_type", "position", "final_score")


def recall(
    memories: DataFrame,
    req: RecallRequest,
    *,
    query_vector: list[float] | None = None,
    now: str = "2026-06-01 00:00:00",
    fuse_channels: bool | None = None,
) -> DataFrame:
    """End-to-end single-query recall (SURVEY.md §3.1 steps 3b-3g + 4).

    fuse_channels: True forces the single-scan keyword+metadata channel,
    False forces the composed two-scan shape, None (default) dispatches on
    the pool's plan-stats row estimate vs RECALL_FUSE_SCAN_MIN_ROWS.

    Returns (id, match_type, match_score, final_score, <memory cols>) sorted
    by the deterministic tiebreak W1: final_score DESC, match_score DESC,
    importance DESC, timestamp DESC, id ASC; LIMIT req.limit.
    """
    req = replace(req, sort=effective_sort(req, has_vector=query_vector is not None))
    pool = base_filter(memories, req)
    tokens = extract_keywords(req.query.strip().lower())

    channels: list[DataFrame] = []
    vec: DataFrame | None = None
    if query_vector is not None and "embedding" in memories.columns:
        # ≤ k rows with three consumers (the channel, the keyword pool's
        # exclusion, the keyword slot count): one job, held locally
        vec = maybe_localize(vector_channel(pool, query_vector, req.limit))
        channels.append(vec)
    normalized = req.query.strip().lower()
    if normalized and normalized != "*":
        meta_field_names = [
            f for f in ("source", "repo", "project", "tool", "provider", "model")
            if f in pool.columns
        ]
        fused = None
        if vec is None and meta_field_names and "metadata" in pool.columns:
            if fuse_channels is None:
                from automem_spark.operators.trainprep import estimate_rows

                est = estimate_rows(pool)
                # crossover knob (plans/tuning.py): spark.automem.recall_
                # fuse_scan_min_rows / AUTOMEM_RECALL_FUSE_SCAN_MIN_ROWS
                fuse_channels = est is not None and est >= tuning_int(
                    "recall_fuse_scan_min_rows", RECALL_FUSE_SCAN_MIN_ROWS
                )
            if fuse_channels:
                # single-scan keyword+metadata union (bit-identical to the
                # two separate channels; None on degenerate queries)
                fused = _keyword_metadata_fused(
                    pool, req.query, req.limit,
                    {f: F.col(f) for f in meta_field_names},
                )
        if fused is not None:
            channels.append(fused)
        elif vec is None:
            channels.append(keyword_channel(pool, req.query, req.limit))
        else:
            # Keyword channel fills only the slots vector results left open:
            # remaining = max(0, limit - |vector results|), with vector ids
            # excluded before the cut (recall.py:1999-2013). With the 4×
            # overfetch the vector channel usually fills the limit and the
            # keyword channel contributes nothing — matching the reference.
            vec_ids = [r["id"] for r in collect_bounded(vec.select("id"))]
            kw_pool = pool.filter(
                F.col("id").isNull() | ~in_list_expr("id", vec_ids)
            )
            # the channel's own ordering IS the slot ordering (match_score
            # is monotone in the raw score), so the open slots are its top
            # max(0, limit - |vector results|)
            kw = keyword_channel(
                kw_pool, req.query, max(0, req.limit - len(vec_ids))
            )
            channels.append(kw)
        # metadata sidecar (R5) when the corpus carries whitelisted scalar
        # metadata fields (recall.py:2015-2040) — unless already fused into
        # the single-scan keyword+metadata channel above
        if fused is None and meta_field_names and "metadata" in pool.columns:
            from automem_spark.operators.metadata_search import metadata_channel

            channels.append(
                metadata_channel(
                    pool, req.query, req.limit,
                    {f: F.col(f) for f in meta_field_names},
                )
            )
    else:
        channels.append(trending_channel(pool, req.limit))

    candidates = channels[0]
    for ch in channels[1:]:
        candidates = candidates.unionByName(ch)

    now_col = F.lit(now).cast("timestamp")
    if not (tokens and req.weights.relevance_gate > 0):
        # the X1 blend over plain candidate columns — one-F.expr fast path
        # (the tree costs ~0.24s of py4j calls per query and re-runs the
        # content tokenizer per token per row; equivalence test-pinned)
        from automem_spark.functions.scoring import hybrid_score_sql_spark

        score_col = F.expr(
            hybrid_score_sql_spark(tokens=tokens, now=now, w=req.weights)
        )
    else:
        score_col = hybrid_score_expr(
            match_type=F.col("match_type"),
            match_score=F.col("match_score"),
            content=F.col("content"),
            tags=F.col("tags"),
            importance=F.col("importance"),
            confidence=F.col("confidence"),
            timestamp=F.col("timestamp"),
            now=now_col,
            tokens=tokens,
            w=req.weights,
        )
    scored = candidates.withColumn("final_score", score_col)
    if req.min_score is not None:
        scored = scored.filter(F.col("final_score") >= req.min_score)  # F9
    deduped = dedup_results(scored)

    if req.sort == "time_desc":
        ordering = [F.desc("timestamp"), F.asc("id")]
    elif req.sort == "time_asc":
        ordering = [F.asc("timestamp"), F.asc("id")]
    else:
        ordering = [
            F.desc("final_score"),
            F.desc("match_score"),
            F.desc("importance"),
            F.desc("timestamp"),
            F.asc("id"),
        ]
    return deduped.orderBy(*ordering).limit(req.limit)
