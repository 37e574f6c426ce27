"""Tests for the bitemporal state layer (F8/J5) and query auto-decomposition
(R8/R9/R10)."""

from pyspark.sql import functions as F

from automem_spark.operators.decompose import (
    decompose_query,
    extract_query_entities,
    extract_topic_keywords,
)
from automem_spark.operators.state import current_state_filter, state_reason_expr

NOW = "2026-06-01 00:00:00"


# ---------------------------------------------------------------------------
# R8/R9/R10 — pure driver-side functions
# ---------------------------------------------------------------------------

def test_extract_query_entities_mid_sentence_caps():
    # sentence-start word skipped, stopwords skipped, mid-sentence names kept
    ents = extract_query_entities("What did Alice decide about Kafka in March?")
    assert ents == ["Alice", "Kafka"]


def test_extract_query_entities_possessive():
    assert "Bob" in extract_query_entities("Tell me about Bob's plans")


def test_extract_topic_keywords_skips_fillers_and_entities():
    topics = extract_topic_keywords(
        "What did Alice decide about the spark window merge strategy?",
        exclude_entities=["Alice"],
    )
    assert topics == ["decide", "spark", "window", "merge", "strategy"]


def test_decompose_query_entity_and_topic_subqueries():
    subs = decompose_query("What did Alice decide about the spark window merge strategy?")
    assert subs[0] == "What did Alice decide about the spark window merge strategy?"
    assert "Alice" in subs
    assert "Alice decide" in subs
    assert len(subs) == 5  # original + entity + 3 entity-topic pairs


def test_decompose_query_career_heuristic():
    subs = decompose_query("Would Melanie pursue a career in music?")
    assert "Melanie interests goals plans" in subs


def test_decompose_query_no_entities_topic_fallback():
    subs = decompose_query("what database strategy works best here?")
    assert subs[0] == "what database strategy works best here?"
    assert "database" in subs  # topic-only sub-queries


# ---------------------------------------------------------------------------
# F8 — state reason expression
# ---------------------------------------------------------------------------

def test_state_reason_precedence(spark):
    df = spark.createDataFrame(
        [
            (1, True, None, None),              # archived wins
            (2, False, "2026-07-01", None),     # future t_valid
            (3, False, None, "2026-05-01"),     # past t_invalid
            (4, True, "2026-07-01", "2026-05-01"),  # archived beats both
            (5, False, None, None),             # active
            (6, False, "2026-01-01", None),     # t_valid in the past -> active
        ],
        "id INT, archived BOOLEAN, t_valid STRING, t_invalid STRING",
    ).select(
        "id",
        "archived",
        F.col("t_valid").cast("timestamp").alias("t_valid"),
        F.col("t_invalid").cast("timestamp").alias("t_invalid"),
    )
    out = df.select(
        "id",
        state_reason_expr(
            F.col("archived"), F.col("t_valid"), F.col("t_invalid"),
            F.lit(NOW).cast("timestamp"),
        ).alias("reason"),
    )
    got = {r.id: r.reason for r in out.collect()}
    assert got == {
        1: "archived", 2: "not_yet_valid", 3: "expired",
        4: "archived", 5: None, 6: None,
    }


# ---------------------------------------------------------------------------
# J5 — suppression + replacement injection
# ---------------------------------------------------------------------------

def _mk_memories(spark):
    rows = [
        # id, archived, t_valid, t_invalid, importance, ts
        (1, False, None, None, 0.9, "2026-03-01 00:00:00"),
        (2, False, None, "2026-05-01 00:00:00", 0.8, "2026-03-02 00:00:00"),  # expired
        (3, False, None, None, 0.7, "2026-03-03 00:00:00"),  # head of 2's chain
        (4, False, None, None, 0.6, "2026-03-04 00:00:00"),
        (5, True, None, None, 0.5, "2026-03-05 00:00:00"),   # archived
    ]
    return spark.createDataFrame(
        rows, "id INT, archived BOOLEAN, t_valid STRING, t_invalid STRING,"
        " importance DOUBLE, timestamp STRING",
    ).select(
        "id", "archived",
        F.col("t_valid").cast("timestamp").alias("t_valid"),
        F.col("t_invalid").cast("timestamp").alias("t_invalid"),
        "importance",
        F.col("timestamp").cast("timestamp").alias("timestamp"),
    )


def _mk_edges(spark, rows):
    return spark.createDataFrame(
        rows, "src INT, dst INT, rel_type STRING, updated_at_epoch BIGINT"
    )


def test_current_state_filter_suppresses_and_injects(spark):
    mem = _mk_memories(spark)
    results = spark.createDataFrame(
        [(1, "keyword", 0.9), (2, "keyword", 0.8), (4, "keyword", 0.6), (5, "keyword", 0.5)],
        "id INT, match_type STRING, final_score DOUBLE",
    )
    edges = _mk_edges(spark, [(2, 3, "INVALIDATED_BY", 100)])
    out = current_state_filter(results, mem, edges, now=NOW).collect()
    by_id = {r.id: r for r in out}
    # 2 suppressed (expired), 5 suppressed (archived), 1 and 4 kept
    assert set(by_id) == {1, 3, 4}
    # 3 injected as the replacement for 2, carrying 2's score
    assert by_id[3].match_type == "state_replacement"
    assert by_id[3].state_replaces == 2
    assert by_id[3].final_score == 0.8
    # position ordering: score desc
    assert [r.id for r in sorted(out, key=lambda r: r.position)] == [1, 3, 4]


def test_current_state_filter_no_duplicate_injection(spark):
    mem = _mk_memories(spark)
    # head (3) already present in the result set -> no injection
    results = spark.createDataFrame(
        [(2, "keyword", 0.8), (3, "keyword", 0.7)],
        "id INT, match_type STRING, final_score DOUBLE",
    )
    edges = _mk_edges(spark, [(2, 3, "INVALIDATED_BY", 100)])
    out = current_state_filter(results, mem, edges, now=NOW).collect()
    assert [r.id for r in out] == [3]
    assert out[0].match_type == "keyword"


def test_current_state_filter_inactive_head_not_injected(spark):
    mem = _mk_memories(spark)
    results = spark.createDataFrame(
        [(2, "keyword", 0.8)], "id INT, match_type STRING, final_score DOUBLE",
    )
    # only replacement candidate is archived (5) -> no replacement found ->
    # plain suppression of the expired row, nothing injected
    edges = _mk_edges(spark, [(2, 5, "INVALIDATED_BY", 100)])
    out = current_state_filter(results, mem, edges, now=NOW).collect()
    assert out == []


def test_current_state_filter_falls_back_past_inactive_newest_edge(spark):
    """recall.py:452-520: the newest edge's target (5, archived) is skipped;
    the next-newest edge's active target (3) becomes the replacement."""
    mem = _mk_memories(spark)
    results = spark.createDataFrame(
        [(2, "keyword", 0.8)], "id INT, match_type STRING, final_score DOUBLE",
    )
    edges = _mk_edges(
        spark,
        [(2, 5, "INVALIDATED_BY", 200), (2, 3, "INVALIDATED_BY", 100)],
    )
    out = current_state_filter(results, mem, edges, now=NOW).collect()
    assert [(r.id, r.state_replaces) for r in out] == [(3, 2)]


def test_current_state_filter_walk_stops_at_last_active_node(spark):
    """Chain 2 -> 3 -> 5 with 5 archived: the gated walk stops at 3 (the
    last active node) instead of committing to the inactive tail."""
    mem = _mk_memories(spark)
    results = spark.createDataFrame(
        [(2, "keyword", 0.8)], "id INT, match_type STRING, final_score DOUBLE",
    )
    edges = _mk_edges(
        spark,
        [(2, 3, "INVALIDATED_BY", 100), (3, 5, "INVALIDATED_BY", 200)],
    )
    out = current_state_filter(results, mem, edges, now=NOW).collect()
    assert [(r.id, r.state_replaces) for r in out] == [(3, 2)]


def test_metadata_terms_walk_rules(spark):
    """X17 (automem/utils/scoring.py:40-63): entities skipped at any depth,
    > 256-char strings dropped, numbers/booleans dropped, tokens split on
    the [a-z0-9_-] class, depth cap stops descent."""
    from automem_spark.operators.metadata_search import metadata_terms

    meta = (
        '{"a": "Top Val", "entities": {"people": ["secret"]},'
        ' "nest": {"b": "x_y-z", "entities": ["secret2"],'
        '          "deep": {"c": "leaf", "deeper": {"d": "toodeep"}}},'
        ' "arr": ["e1", {"f": "inarr"}], "n": 42, "ok": true,'
        ' "long": "' + "q" * 300 + '"}'
    )
    df = spark.createDataFrame([(1, meta)], "id long, metadata string")
    out = metadata_terms(df, max_depth=3).collect()[0]["metadata_terms"]
    assert "top val" in out and "top" in out and "val" in out
    assert "x_y-z" in out            # _ and - stay inside one token
    assert "leaf" in out and "e1" in out and "inarr" in out
    assert "toodeep" not in out      # below max_depth
    assert not any("secret" in t for t in out)
    assert "42" not in out and "true" not in out
    assert not any(len(t) > 256 for t in out)


def test_state_reason_sql_matches_tree(spark):
    """current_state_filter's SQL-text state reason equals the Column tree."""
    from automem_spark.operators.state import state_reason_sql

    mem = _mk_memories(spark)
    now = F.lit(NOW).cast("timestamp")
    got = mem.select(
        state_reason_expr(F.col("archived"), F.col("t_valid"), F.col("t_invalid"), now).alias("a"),
        F.expr(state_reason_sql(NOW)).alias("b"),
    ).collect()
    assert [r.a for r in got] == [r.b for r in got]
    assert {r.a for r in got} >= {None, "archived", "expired"}
