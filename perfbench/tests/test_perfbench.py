"""The benchmark's own tests: generator determinism, the metric contract,
the percentile/sample-count rule, and that the output checks catch a
deliberately corrupted result. No Spark session is started.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os
import re
import subprocess
import sys
import time

import gen
import pytest
import run
import tracing
import verify
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_same_seed_same_inputs_other_seed_other_inputs():
    a = gen.fingerprint([gen.base_corpus(3), gen.recall_stream(3, 4), gen.warmup_batch(3)])
    b = gen.fingerprint([gen.base_corpus(3), gen.recall_stream(3, 4), gen.warmup_batch(3)])
    c = gen.fingerprint([gen.base_corpus(4), gen.recall_stream(4, 4), gen.warmup_batch(4)])
    assert a == b != c
    docs, _ = gen.base_corpus(3)
    x = gen.ingest_batch(3, 0, docs["text"], len(docs["text"]))
    y = gen.ingest_batch(3, 0, docs["text"], len(docs["text"]))
    assert gen.fingerprint(x) == gen.fingerprint(y)


def test_streams_are_independent_of_each_other():
    """Drawing more blocks never changes the earlier ones."""
    short, long = gen.recall_stream(5, 2), gen.recall_stream(5, 6)
    assert gen.fingerprint(short) == gen.fingerprint(long[:2])


def test_block_mix_is_stratified():
    for block in gen.recall_stream(9, 20):
        kinds = [r["kind"] for r in block]
        assert kinds == ["batch"] + ["recall"] * gen.BLOCK_RECALLS + ["recall_full"]
        single = block[1:-1]
        assert sum("vector_id" in r for r in single) == 1
        assert sum(("tags" in r) or ("start" in r) for r in single) == 1
        assert len(block[0]["queries"]) == gen.BATCH_Q
        assert sum("vector_id" in q for q in block[0]["queries"]) == 1


def test_ingest_batch_shares():
    docs, _ = gen.base_corpus(2)
    b = gen.ingest_batch(2, 1, docs["text"], len(docs["text"]))
    n = len(b["role"])
    assert n == int(len(docs["text"]) * gen.INGEST_SHARE)
    for role, share in (("exact_dup", gen.INGEST_EXACT_DUP), ("near_dup", gen.INGEST_NEAR_DUP),
                        ("newer", gen.INGEST_NEWER)):
        assert b["role"].count(role) == int(n * share)
    newer = [i for i, r in zip(b["id"], b["role"]) if r == "newer"]
    assert all(i < len(docs["text"]) for i in newer)
    fresh = [i for i, r in zip(b["id"], b["role"]) if r != "newer"]
    assert fresh == list(range(len(docs["text"]), len(docs["text"]) + len(fresh)))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        assert UNIT.match(m["unit"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert 1 <= len(b["per_layer"]) <= 128
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    assert 1 <= b["run_seconds"] <= 60


def test_emitted_layer_names_match_benchmark_json():
    """Every per-layer metric the traced run emits is declared, and back."""
    t = tracing.Tracer(spark=None, enabled=False, cores=4)
    for layer in run.RECALL_LAYERS + run.MAINT_LAYERS:
        acc = t.layers[layer]
        acc["calls"] = 1
        acc["exec_cores_s"] = 1.0
    emitted = run.layer_metrics(t, {"session": 1.0, "views": 1.0})
    declared = {m["name"] for m in _bench()["per_layer"]}
    assert set(emitted) == declared


def test_tree_cpu_counts_running_and_reaped_children():
    """CPU a child burns counts while it runs and after it was reaped."""
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    c0 = workloads.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", busy + "input()"], stdin=subprocess.PIPE)
    deadline = time.monotonic() + 30
    while workloads.tree_cpu_s() - c0 < 0.4 and time.monotonic() < deadline:
        time.sleep(0.1)
    assert workloads.tree_cpu_s() - c0 >= 0.4
    child.communicate(b"\n")
    assert workloads.tree_cpu_s() - c0 >= 0.4


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.tail_percentile(99) is None
    assert run.tail_percentile(100) == 90
    assert run.tail_percentile(199) == 90
    assert run.tail_percentile(200) == 95
    assert run.tail_percentile(1000) == 99


def test_self_time_subtracts_children():
    t = tracing.Tracer(spark=None, enabled=False, cores=1)
    t.spans = [
        {"id": 0, "name": "op", "parent": None, "request": "r", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "op:build", "parent": 0, "request": "r", "start": 0.0, "end": 4.0},
        {"id": 2, "name": "op:exec", "parent": 0, "request": "r", "start": 4.5, "end": 9.0},
    ]
    assert t.self_times() == pytest.approx({"op": 1.5, "op:build": 4.0, "op:exec": 4.5})


def test_checks_catch_corrupted_results(tmp_path):
    docs, vecs = gen.base_corpus(1)
    gen.write_corpus(str(tmp_path), docs, vecs)

    class Stub:
        inputs = {"sf": str(tmp_path)}

    req = {"kind": "recall", "query": "window merge fast", "limit": 10}
    con = verify._con(str(tmp_path / "documents.parquet"))
    want = verify.plain_recall_oracle(con, req["query"], req["limit"])
    assert len(want) == 10
    rows = [{"id": i, "match_type": mt, "match_score": ms, "final_score": fs,
             "tags": [], "timestamp": None} for i, mt, ms, fs in want]
    assert verify.recall_check(Stub, req, rows)() == []
    bad = [dict(r) for r in rows]
    bad[3]["final_score"] += 0.001
    assert verify.recall_check(Stub, req, bad)()
    swapped = rows[:-1] + [dict(rows[-1], id=rows[-1]["id"] + 1)]
    assert verify.recall_check(Stub, req, swapped)()


def test_component_and_jaccard_twins():
    assert verify.components([1, 2, 3, 4], [(2, 3), (4, 3)]) == {1: 1, 2: 2, 3: 2, 4: 2}
    assert verify.check_rows("cc", [(1, 1), (3, 2)], [(1, 1), (3, 3)])
    a = "alpha beta gamma delta"
    assert verify.jaccard(a, a) == 1.0
    assert verify.jaccard(a, "Alpha, beta gamma!") == 0.5
