"""Output checks, run after the timed loop on a seeded sample of operations.

Each check returns a list of error strings; every operation with a
non-empty list counts as failed. Oracles are the repo's own DuckDB twins
(`functions.scorespec`, `sources.tables.MEMORIES_ORACLE_CTE`,
`sources.graph_fixture.EDGES_ORACLE_CTE`, the registry's `oracle_sql()`,
`entity_extract.extract_entities_oracle_sql`) run over the generated
parquet files, plus plain-Python recomputations where no SQL twin exists
(shingle Jaccard, union-find components). The batch recall check uses the
documented equivalence `recall_many_hybrid` == per-query `recall`.

The benchmark's own tests feed `recall_check` and the pure helpers
corrupted results and require them to fail.
"""

from __future__ import annotations

import re
from collections import Counter

import duckdb
import numpy as np

NOW = "2026-06-01 00:00:00"
META_VALUES = {"spark", "duckdb", "flink", "alpha", "beta", "gamma", "delta", "omega"}


def _con(documents_path: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')")
    return con


# ---------------------------------------------------------------------------
# pure helpers
# ---------------------------------------------------------------------------

def shingles(text: str, n: int = 3) -> set[str]:
    """Python twin of dedup.shingles_expr."""
    t = re.sub(r"\s+", " ", re.sub(r"[^\w\s]", " ", text.lower())).strip()
    words = t.split(" ")
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def components(nodes, edges) -> dict:
    """Union-find labels: node -> min node id of its component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def check_rows(name: str, got, want) -> list[str]:
    """Multiset comparison of two row collections (tuples)."""
    g, w = Counter(map(tuple, got)), Counter(map(tuple, want))
    if g == w:
        return []
    extra, missing = list((g - w).elements())[:3], list((w - g).elements())[:3]
    return [f"{name}: {sum((g - w).values())} unexpected rows {extra}, "
            f"{sum((w - g).values())} missing rows {missing}"]


# ---------------------------------------------------------------------------
# recall
# ---------------------------------------------------------------------------

def plain_recall_oracle(con, query: str, limit: int) -> list[tuple]:
    """The registry's hybrid_recall oracle generalised to any keyword query:
    keyword channel top-`limit` by raw score, re-ranked by the hybrid blend."""
    from automem_spark.functions import scorespec
    from automem_spark.functions.text import extract_keywords
    from automem_spark.sources.tables import MEMORIES_ORACLE_CTE

    phrase = query.strip().lower()
    kws = extract_keywords(phrase)
    max_raw = float(3 * len(kws) + (3 if len(phrase) >= 3 else 0))
    kw = scorespec.keyword_raw_score_sql_duck(kws, phrase)
    hyb = scorespec.hybrid_keyword_channel_sql_duck(kws, NOW)
    sql = f"""WITH {MEMORIES_ORACLE_CTE}
        SELECT id, 'keyword', round(match_score, 6), round({hyb}, 6) FROM (
            SELECT *, least(1.0, CAST({kw} AS DOUBLE) / {max_raw}) AS match_score,
                   CAST({kw} AS DOUBLE) AS raw_score
            FROM memories WHERE NOT archived AND type != 'MetaPattern'
              AND CAST({kw} AS DOUBLE) > 0
            ORDER BY raw_score DESC, importance DESC, timestamp DESC, id ASC
            LIMIT {limit})
        ORDER BY round({hyb}, 6) DESC, match_score DESC, importance DESC,
                 timestamp DESC, id ASC
        LIMIT {limit}"""
    return con.execute(sql).fetchall()


def recall_check(run, r: dict, rows):
    """Deferred check of one request of the recall stream."""
    if r["kind"] == "batch":
        return batch_check(run, r, rows)
    docs_path = run.inputs["sf"] + "/documents.parquet"
    ids = [row["id"] for row in rows]

    def check() -> list[str]:
        errs = []
        if not 0 < len(rows) <= r["limit"] or len(set(ids)) != len(ids):
            errs.append(f"{len(rows)} rows / {len(set(ids))} distinct for limit {r['limit']}")
        if r["kind"] == "recall_full":
            pos = sorted(row["position"] for row in rows)
            if pos != list(range(1, len(rows) + 1)):
                errs.append(f"positions {pos}")
            return errs
        if any(i % 37 == 0 or i % 8 == 7 for i in ids):
            errs.append("archived or MetaPattern memory returned")
        if r.get("tags") and not all(
            any(t.lower().startswith(p) for t in row["tags"] for p in r["tags"]) for row in rows
        ):
            errs.append(f"row outside tag filter {r['tags']}")
        if r.get("start") and not all(
            r["start"] <= str(row["timestamp"]) <= r["end"] for row in rows
        ):
            errs.append("row outside time window")
        words = set(r["query"].split())
        if not ({"vector_id", "tags", "start"} & r.keys()) and not words & META_VALUES:
            got = [(row["id"], row["match_type"], round(row["match_score"], 6),
                    round(row["final_score"], 6)) for row in rows]
            errs += check_rows("recall vs DuckDB oracle", got,
                               plain_recall_oracle(_con(docs_path), r["query"], r["limit"]))
        return errs

    return check


def batch_check(run, r: dict, rows):
    """recall_many_hybrid == per-query recall on one seeded query of the
    batch (ids, channels, scores at 5 dp), plus rank shape."""
    def check() -> list[str]:
        from automem_spark.operators.recall import RecallRequest, recall

        import workloads

        errs = []
        by_q: dict = {}
        for row in rows:
            by_q.setdefault(row["query_id"], []).append(row)
        for qid, rs in by_q.items():
            ranks = sorted(x["rank"] for x in rs)
            if ranks != list(range(1, len(rs) + 1)) or len(rs) > r["limit"]:
                errs.append(f"{qid}: ranks {ranks}")
        rng = np.random.default_rng(run.seed)
        for i in rng.choice(len(r["queries"]), 1):
            q = r["queries"][i]
            single = recall(
                run.views["corpus"], RecallRequest(query=q["query"], limit=r["limit"]),
                query_vector=workloads._vector(run, q), now=NOW,
            ).select("id", "match_type", "match_score", "final_score").collect()
            run.clear()
            want = [(x.id, x.match_type, round(x.match_score, 5), round(x.final_score, 5))
                    for x in single]
            got = [(x["id"], x["match_type"], round(x["match_score"], 5),
                    round(x["final_score"], 5)) for x in by_q.get(q["query_id"], [])]
            errs += _close_rows(f"{q['query_id']} vs single recall", got, want)
        return errs

    return check


def _close_rows(name, got, want, tol=2e-5) -> list[str]:
    g = {r[:2]: r[2:] for r in got}
    w = {r[:2]: r[2:] for r in want}
    if g.keys() != w.keys():
        return [f"{name}: ids/channels differ {sorted(set(g) ^ set(w))[:4]}"]
    bad = [k for k in g if any(abs(a - b) > tol for a, b in zip(g[k], w[k]))]
    return [f"{name}: scores differ at {bad[:3]}"] if bad else []


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------

def maintenance_check(run, out: dict):
    import workloads

    docs_path = run.inputs["sf"] + "/documents.parquet"

    def check() -> list[str]:
        errs: list[str] = []
        con = _con(docs_path)
        store = f"read_parquet('{out['store']}/*.parquet')"
        texts = out["texts"]
        # upsert: one row per id, newest content wins
        got = con.execute(f"SELECT id, content FROM {store}").fetchall()
        errs += check_rows("upsert store", got, list(enumerate(texts)))
        # exact dedup vs the registry's dedup_exact oracle shape
        want = con.execute(f"""
            SELECT min(id), count(*) FROM (
                SELECT id, trim(regexp_replace(regexp_replace(lower(content),
                       '[^\\w\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
                FROM {store}) GROUP BY norm HAVING count(*) > 1""").fetchall()
        errs += check_rows("exact_dedup", [(r["id"], r["dup_count"]) for r in out["exact"]], want)
        # minhash pairs: every reported pair really is a near duplicate, and
        # every planted pair well above the threshold is reported
        pairs = {(r["src"], r["dst"]): r["jaccard"] for r in out["pairs"]}
        rng = np.random.default_rng(run.seed)
        sample = list(pairs)
        for i in rng.permutation(len(sample))[:100]:
            a, b = sample[i]
            j = jaccard(texts[a], texts[b])
            if j < workloads.LSH_THRESHOLD or abs(j - pairs[(a, b)]) > 1e-9:
                errs.append(f"minhash pair {(a, b)}: jaccard {pairs[(a, b)]} vs {j}")
        batch = out["batch"]
        near_ids = [int(i) for i, role in zip(batch["id"], batch["role"]) if role == "near_dup"]
        near = list(zip(batch["near_src"], near_ids))
        for s, i in near:
            if jaccard(texts[s], texts[i]) >= 0.6 and (min(s, i), max(s, i)) not in pairs:
                errs.append(f"planted near-dup pair {(s, i)} not found")
        # entity extraction vs its DuckDB oracle
        from automem_spark.operators.entity_extract import extract_entities_oracle_sql

        fixture = f"amem AS (SELECT id, content FROM read_parquet('{out['norm']}/*.parquet'))"
        want = con.execute(extract_entities_oracle_sql(fixture)).fetchall()
        got = [(r["id"], r["category"], r["name"], r["canonical_slug"], r["canonical_tag"],
                r["confidence"]) for r in out["ents"]]
        errs += check_rows("extract_entities", [g[:5] + (round(g[5], 6),) for g in got],
                           [w[:5] + (round(w[5], 6),) for w in want])
        # enrichment: one row per ingested memory
        errs += check_rows("enrich ids", [(r["id"],) for r in out["enriched"]],
                           [(int(i),) for i in batch["id"]])
        # components + cluster summaries vs union-find over exact cosines
        emb = con.execute(
            f"SELECT id, embedding FROM {store} WHERE id < {workloads.CC_SLICE} ORDER BY id"
        ).fetchall()
        ids = [e[0] for e in emb]
        m = np.asarray([e[1] for e in emb], dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        cos = m @ m.T
        iu = np.triu_indices(len(ids), 1)
        near_thr = np.abs(cos[iu] - workloads.CC_THRESHOLD) < 1e-6
        edges = [(ids[a], ids[b]) for a, b, c in zip(*iu, cos[iu])
                 if c >= workloads.CC_THRESHOLD]
        if not near_thr.any():
            want_lab = components(ids, edges)
            errs += check_rows("connected_components",
                               [(r["id"], r["component"]) for r in out["labels"]],
                               list(want_lab.items()))
            sizes = Counter(want_lab.values())
            errs += check_rows("cluster_summaries",
                               [(r["component"], r["n_members"]) for r in out["summaries"]],
                               [(c, n) for c, n in sizes.items() if n >= 3])
        # supersession heads vs the registry oracle over the same documents
        from __spark_entry__ import oracle_sql

        want = con.execute(oracle_sql()["supersession_heads"]).fetchall()
        errs += check_rows("resolve_supersession",
                           [(r["start"], r["head"], r["hops"]) for r in out["heads"]], want)
        # sync drift: fixture edges whose target is not an active store id
        from automem_spark.sources.graph_fixture import EDGES_ORACLE_CTE

        want = con.execute(f"""WITH {EDGES_ORACLE_CTE}
            SELECT src, dst, rel_type FROM edges WHERE dst NOT IN (
                SELECT id FROM {store} WHERE NOT coalesce(archived, false))""").fetchall()
        errs += check_rows("sync_drift",
                           [(r["src"], r["dst"], r["rel_type"]) for r in out["drift"]], want)
        # forgetting: one classified row per store memory
        acts = {r["action"] for r in out["forgotten"]}
        errs += check_rows("forget ids", [(r["id"],) for r in out["forgotten"]],
                           [(i,) for i in range(len(texts))])
        if not acts <= {"preserved", "delete", "archive", "update"}:
            errs.append(f"forget actions {acts}")
        if any(not (r["src"] < r["dst"] < workloads.CREATIVE_MAX_ID) for r in out["creative"]):
            errs.append("creative pair outside the candidate set")
        return errs

    return check
