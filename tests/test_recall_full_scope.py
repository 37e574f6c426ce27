"""recall_full's candidate-scoped work: the start-set supersession walk and
the per-request job budget."""

from __future__ import annotations

import itertools

import pytest

from automem_spark.operators.graph import resolve_supersession

NOW = "2026-06-01 00:00:00"

# (src, dst, rel_type, updated_at_epoch)
_EDGES = [
    # cycle 10 -> 11 -> 12 -> 10
    (10, 11, "INVALIDATED_BY", 100),
    (11, 12, "EVOLVED_INTO", 100),
    (12, 10, "EVOLVED_INTO", 100),
    # inactive newest edge (21 archived) falls back to the next-newest (22)
    (20, 21, "INVALIDATED_BY", 200),
    (20, 22, "INVALIDATED_BY", 100),
    (22, 23, "EVOLVED_INTO", 100),
    # the head (32) and the node before it lie outside the candidate set
    (30, 31, "EVOLVED_INTO", 100),
    (31, 32, "EVOLVED_INTO", 100),
    # a chain of 7 hops, longer than max_hops
    *[(40 + i, 41 + i, "EVOLVED_INTO", 100) for i in range(7)],
    # updated_at tie: dst DESC decides; NULL updated_at sorts last
    (50, 51, "INVALIDATED_BY", 100),
    (50, 52, "INVALIDATED_BY", 100),
    (60, 61, "INVALIDATED_BY", None),
    (60, 62, "INVALIDATED_BY", 5),
    # an inactive start still walks; its only target is inactive too
    (70, 71, "EVOLVED_INTO", 100),
    (72, 73, "EVOLVED_INTO", 100),
    # two candidates sharing one chain tail
    (90, 91, "EVOLVED_INTO", 100),
    (92, 91, "EVOLVED_INTO", 50),
    (91, 93, "EVOLVED_INTO", 100),
    # not a supersession type: ignored by the walk
    (95, 96, "RELATES_TO", 100),
]
_INACTIVE = {21: "archived", 70: "expired", 73: "not_yet_valid"}
_CANDIDATES = [10, 20, 30, 40, 41, 50, 60, 70, 72, 80, 90, 92, 95]


@pytest.fixture(scope="module")
def graph(spark):
    edges = spark.createDataFrame(
        _EDGES, "src BIGINT, dst BIGINT, rel_type STRING, updated_at_epoch BIGINT"
    )
    ids = sorted({x for e in _EDGES for x in e[:2]} | set(_CANDIDATES))
    state = spark.createDataFrame(
        [(i, _INACTIVE.get(i)) for i in ids], "id BIGINT, state_reason STRING"
    )
    return edges, state


@pytest.mark.parametrize("gated", [True, False])
@pytest.mark.parametrize("max_hops", [5, 2])
@pytest.mark.parametrize("local_max_walks", [10**9, 0])
def test_start_set_walk_matches_global_walk(spark, graph, gated, max_hops, local_max_walks):
    """The candidate-scoped walk returns exactly the global walk's rows for
    the candidates (the global walk then semi-joined to them), on both
    global strategies (single-task walk and checkpointed join loop)."""
    edges, state = graph
    node_state = state if gated else None
    starts = spark.createDataFrame([(c,) for c in _CANDIDATES], "start BIGINT")
    want = sorted(
        map(
            tuple,
            resolve_supersession(
                edges, max_hops=max_hops, node_state=node_state,
                local_max_walks=local_max_walks,
            )
            .join(starts, "start", "left_semi")
            .select("start", "head", "hops")
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            resolve_supersession(
                edges, max_hops=max_hops, node_state=node_state, start=_CANDIDATES
            )
            .select("start", "head", "hops")
            .collect(),
        )
    )
    assert got == want
    heads = {s: (h, n) for s, h, n in got}
    # the adversarial cases really are exercised
    assert heads[40][1] == max_hops and 41 in heads
    assert heads[50][0] == 52 and heads[60][0] == 62
    if gated:
        assert heads[20][0] == 23 and 72 not in heads
    else:
        assert heads[20][0] == 21


def test_start_set_walk_empty_and_unknown_starts(spark, graph):
    edges, state = graph
    assert resolve_supersession(edges, node_state=state, start=[]).collect() == []
    assert resolve_supersession(edges, node_state=state, start=[999]).collect() == []


_groups = itertools.count()


def test_recall_full_job_budget(spark, sf_dir):
    """One recall_full request — plan build and result collect together —
    runs at most 16 Spark jobs at sf0.001 (it ran 38 before the candidate
    set was scoped)."""
    import __spark_entry__ as entry

    sc = spark.sparkContext
    entry.q_recall_full(spark, sf_dir).collect()  # warm the source views
    group = f"recall-full-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        rows = entry.q_recall_full(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert rows
    assert n_jobs <= 16, n_jobs
