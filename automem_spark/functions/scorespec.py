"""One spec per scorer, both SQL dialects emitted from it (r10 verdict
ask #5).

Before r11 each load-bearing scorer existed in triplicate — a Column
reference twin, a Spark-SQL fast-path text, and a DuckDB oracle text —
kept in lockstep by hand across three modules, so every semantics change
cost three coordinated edits. This module is the single source for the
pieces that were duplicated ACROSS dialects:

- the R3 keyword raw score (+2 content contains / +1 any-tag contains,
  normalizer 3*|kw|+3)           — reference runtime_recall_helpers.py:595-724
- the X2 tag-hit count            — reference utils/scoring.py:160-177
- the X1 hybrid-blend weights     — reference config.py:473-482 (the
  `Weights` dataclass in functions/scoring.py stays the canonical table;
  the DuckDB emitters here FORMAT from it instead of re-hardcoding)
- the X9 320-char content fingerprint fold — reference api/recall.py:310-323

Emitted texts are pinned char-identical to the pre-unification generators
by tests/golden/scorespec_sql.json; the evaluated results stay pinned by
the existing equivalence suites and the per-round oracle gate.
"""

from __future__ import annotations

from automem_spark.functions.scoring import DEFAULT_WEIGHTS, Weights
from automem_spark.functions.text import assert_sql_literal_safe

# ---------------------------------------------------------------------------
# R3 keyword raw score
# ---------------------------------------------------------------------------

KEYWORD_CONTENT_BONUS = 2  # content CONTAINS keyword
KEYWORD_TAG_BONUS = 1      # any tag CONTAINS keyword
# raw-score normalizer: least(1, raw / (NORM_SCALE * |keywords| + NORM_BASE))
KEYWORD_NORM_SCALE = 3
KEYWORD_NORM_BASE = 3


def keyword_norm_denominator(n_keywords: int) -> int:
    return KEYWORD_NORM_SCALE * n_keywords + KEYWORD_NORM_BASE


def _keyword_terms(keywords: list[str], phrase: str) -> list[str]:
    return [*keywords, *([phrase] if phrase else [])]


def keyword_raw_score_sql_spark(
    keywords: list[str], phrase: str, sql_str
) -> str:
    """The per-keyword CASE sum as Spark-SQL text — one F.expr instead of
    ~0.25s of py4j tree calls per query. `cl`/`tl` let-bindings evaluate
    the content lowering and tag lowering once per row (the Column twin
    inlined them per keyword). ``sql_str`` is the caller's string-literal
    escaper (text.py::sql_string_literal).

    Measured r11 (500k rows, sf10): UNROLLING the let-bindings (inline
    `lower(coalesce(content,''))` per term) is NOT faster here — the
    per-term tag `exists` lambdas keep the whole tree on the interpreted
    path anyway (1.20s unrolled vs 1.11s let-bound). Unrolling only wins
    for lambda-FREE trees (content-only scorer: 0.76s vs 1.04s at the
    same scale) — if a future scorer drops the tag channel, revisit."""
    terms = []
    for kw in _keyword_terms(keywords, phrase):
        lit = sql_str(kw)
        terms.append(
            f"(CASE WHEN contains(cl, {lit}) THEN {KEYWORD_CONTENT_BONUS} ELSE 0 END)"
            f" + (CASE WHEN exists(tl, t -> contains(t, {lit}))"
            f" THEN {KEYWORD_TAG_BONUS} ELSE 0 END)"
        )
    raw = " + ".join(terms) if terms else "0"
    return (
        "CAST(element_at(transform(array(lower(coalesce(`content`, ''))), cl ->"
        " element_at(transform(array(transform(coalesce(`tags`, array()),"
        f" tg -> lower(tg))), tl -> {raw}), 1)), 1) AS DOUBLE)"
    )


def duck_sql_str_body(value: str) -> str:
    """Body of a DuckDB single-quoted string literal: embedded quotes are
    doubled; standard SQL literals treat backslash literally, so nothing
    else needs escaping. The DuckDB twin of text.py::sql_string_literal — used for
    FREE-TEXT values (the whole-phrase bonus term), where the folded-token
    charset assert would reject legitimate punctuation."""
    return value.replace("'", "''")


def keyword_raw_score_sql_duck(keywords: list[str], phrase: str) -> str:
    """DuckDB twin of the raw score (oracle side; inline lowering — the
    oracle runs at test scale only). Contract mirrors the Spark side
    (r11 verdict: the DuckDB emitters had skipped it): folded KEYWORDS are
    asserted against the producer alphabet; the free-text PHRASE — which
    legitimately carries punctuation — is escaped, exactly as the Spark
    emitter escapes it via `sql_str`."""
    for k in keywords:
        assert_sql_literal_safe(k, "oracle keyword term")
    parts = []
    for raw in _keyword_terms(keywords, phrase):
        k = duck_sql_str_body(raw)
        parts.append(
            f"(CASE WHEN contains(lower(content), '{k}') THEN"
            f" {KEYWORD_CONTENT_BONUS} ELSE 0 END"
            f" + CASE WHEN len(list_filter(tags, t -> contains(lower(t), '{k}'))) > 0"
            f" THEN {KEYWORD_TAG_BONUS} ELSE 0 END)"
        )
    return " + ".join(parts)


# ---------------------------------------------------------------------------
# X2 tag hits / keyword fallback (DuckDB emitters; the Spark twins live in
# scoring.py::hybrid_score_sql_spark against the same Weights table)
# ---------------------------------------------------------------------------

def tag_hits_sql_duck(tokens: list[str]) -> str:
    for k in tokens:
        assert_sql_literal_safe(k, "oracle tag token")
    return " + ".join(
        f"(CASE WHEN list_contains([lower(t) for t in tags], '{k}')"
        f" THEN 1 ELSE 0 END)"
        for k in tokens
    )


def keyword_fallback_sql_duck(tokens: list[str]) -> str:
    """X2 keyword-component fallback for non-keyword matches: content-token
    overlap hits/len(tokens)."""
    for t in tokens:
        assert_sql_literal_safe(t, "oracle fallback token")
    hits = " + ".join(
        f"(CASE WHEN list_contains(list_distinct(regexp_extract_all(lower(content),"
        f" '\\b[a-z0-9]+\\b')), '{t}') THEN 1 ELSE 0 END)"
        for t in tokens
    )
    return (
        f"(CASE WHEN length(coalesce(content, '')) > 0"
        f" THEN ({hits}) * 1.0 / {float(len(tokens))} ELSE 0.0 END)"
    )


# ---------------------------------------------------------------------------
# X1 hybrid blend (DuckDB emitters; weights formatted from the ONE table)
# ---------------------------------------------------------------------------

def wfmt(x: float) -> str:
    """Weight constant as SQL literal text (repr gives the shortest exact
    form: 0.35, 0.2, 180.0 — matching the hand-written oracle literals)."""
    return repr(x)


def recency_sql_duck(now: str, w: Weights = DEFAULT_WEIGHTS) -> str:
    """Linear recency: max(0, 1 - age_days/window), future -> 1."""
    assert_sql_literal_safe(now, "oracle now timestamp")
    return (
        f"greatest(0.0, 1.0 - greatest((epoch(TIMESTAMP '{now}')"
        f" - epoch(timestamp)) / 86400.0, 0.0) / {wfmt(w.recency_window_days)})"
    )


def hybrid_keyword_channel_sql_duck(
    keywords: list[str], now: str, w: Weights = DEFAULT_WEIGHTS
) -> str:
    """The blend specialized to keyword-channel rows (match_type='keyword':
    vector/metadata components are structurally 0, keyword component =
    min(1, match_score)) — the form every keyword-channel oracle uses."""
    return (
        f"{wfmt(w.keyword)} * least(1.0, match_score) "
        f"+ {wfmt(w.tag)} * least(1.0, ({tag_hits_sql_duck(keywords)})"
        f" / {float(len(keywords))}) "
        f"+ {wfmt(w.importance)} * importance"
        f" + {wfmt(w.confidence)} * confidence"
        f" + {wfmt(w.recency)} * {recency_sql_duck(now, w)}"
    )


# The X9 fingerprint spec lives in functions/text.py next to its Column
# twin (text.py cannot import this module — scoring.py sits between them).
