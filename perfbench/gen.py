"""Seeded input generator for the engine benchmark.

Every input the benchmark feeds the engine comes from here, from `--seed`
alone: the program under test never reads a fixture the benchmark did not
write. Each property below is stated with the reason it was chosen.

Base corpus (the shape of the sf0.1 fixture the engine's oracle gate uses):
- 5,000 `documents` (doc_id, text, lang, source, n_chars) and 2,000
  `embeddings` (vec_id, embedding[64], label). Every cache the engine has
  (view catalog, broadcast thresholds, AQE coalescing) fits at this size,
  so single recall requests measure per-request fixed costs. Both
  workloads read this one corpus.
- Text is a bag of 10-100 words drawn uniformly from a 30-word vocabulary,
  like sf0.1: every memory matches most keyword queries, so the keyword
  channel scores the whole pool instead of short-circuiting.
- 5% of documents are an earlier document plus " dup" (near duplicates)
  and 0.2% are verbatim copies (exact duplicates), the sf0.1 shares, so the
  dedup operators have groups and pairs to find.
- Embeddings are uniform random unit vectors, like sf0.1's: at 64
  dimensions about 0.3% of pairs reach cosine 0.35, which gives the
  consolidation pass's cosine-threshold graph many small components and no
  giant one.

The request stream and the ingest batches are documented where they are
built (`recall_stream`, `ingest_batch`).
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64

_EPOCH = datetime(2026, 1, 1)
BASE_DOCS = 5000
BASE_VECS = 2000
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002

# Metadata-scoped phrases: they name whitelisted metadata fields and values
# the memories view derives (project, tool), so recall's metadata channel
# has requested fields to parse and rows to score.
META_PHRASES = [
    "from project alpha with duckdb",
    "in project beta using spark",
    "project gamma flink",
    "tool duckdb project delta",
    "omega project with spark",
]
TAG_FILTERS = [["lang:en"], ["lang:de"], ["source:src3"], ["lang:fr", "lang:es"]]

# The recall stream is a sequence of blocks: a recall_many_hybrid batch of
# BATCH_Q queries, then BLOCK_RECALLS single `recall` requests, then one
# `recall_full`. Each block's single requests are stratified, one of each
# kind below plus plain keyword requests, in seeded order, so a block's
# median latency never hinges on how many vector requests the seed drew.
QUERY_WORDS = (2, 5)       # the reference's typical short recall query
BLOCK_RECALLS = 5
RECALL_KINDS = ("vector", "metadata", "filter", "plain", "plain")
BATCH_Q = 3                # one vector, one metadata, one plain query
BATCH_KINDS = ("vector", "metadata", "plain")

# maintenance ingest batch, as shares of the batch. The batch is
# INGEST_SHARE of the store: enough rows that every share has dozens of
# rows, small enough that a cycle fits in one run.
INGEST_SHARE = 0.05
INGEST_NEW = 0.60          # fresh documents with fresh ids
INGEST_EXACT_DUP = 0.10    # verbatim copies of corpus documents, fresh ids
INGEST_NEAR_DUP = 0.15     # corpus documents with one word changed, fresh ids
INGEST_NEWER = 0.15        # newer versions of existing ids (upsert wins)


# Entity-bearing sentences appended to ingested documents, in the shapes
# the regex extractor looks for (people after "Met with", tools after
# "Using", quoted or "Project"-prefixed projects), so entity extraction and
# enrichment do real work on every batch.
FIRST = ["Alice", "Bob", "Carol", "Dmitri", "Elena", "Farid", "Grace", "Hiro"]
LAST = ["Johnson", "Nakamura", "Okafor", "Silva", "Weber", "Kowalski"]
TOOLS = ["Spark", "Postgres", "Kafka", "Redis", "Airflow", "Qdrant", "DuckDB"]
PROJECTS = ["Orion", "Neon Sky", "Atlas", "Bluebird", "Kestrel"]
PROJECT_VALUES = ["alpha", "beta", "gamma", "delta", "omega"]
TOOL_VALUES = ["spark", "duckdb", "flink"]


def _entity_sentence(rng: np.random.Generator) -> str:
    person = f"{FIRST[rng.integers(len(FIRST))]} {LAST[rng.integers(len(LAST))]}"
    tool = TOOLS[rng.integers(len(TOOLS))]
    proj = PROJECTS[rng.integers(len(PROJECTS))]
    return (f"Met with {person} about the rollout. Using {tool} for the batch layer. "
            f"Project {proj} kickoff notes.")


def _rng(seed: int, *stream: object) -> np.random.Generator:
    """An independent generator per (seed, stream name) so adding a stream
    never shifts the draws of another."""
    key = hashlib.sha256(repr((seed,) + stream).encode()).digest()[:8]
    return np.random.default_rng(int.from_bytes(key, "little"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _unit(rng: np.random.Generator, n: int) -> np.ndarray:
    m = rng.standard_normal((n, DIM)).astype(np.float32)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def base_corpus(seed: int) -> tuple[dict, dict]:
    """(documents, embeddings) columns of the corpus; the first BASE_VECS
    memories have an embedding."""
    rng = _rng(seed, "base")
    texts = _texts(rng, BASE_DOCS)
    roles = rng.random(BASE_DOCS)
    for i in range(1, BASE_DOCS):
        if roles[i] < NEAR_DUP_SHARE:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif roles[i] < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(BASE_DOCS, dtype=np.int64)
    docs = {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), BASE_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
    }
    vecs = {
        "vec_id": np.arange(BASE_VECS, dtype=np.int64),
        "embedding": _unit(_rng(seed, "vectors"), BASE_VECS),
        "label": rng.integers(0, 10, BASE_VECS).astype(np.int32),
    }
    return docs, vecs


def _docs_table(docs: dict) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": pa.array(docs["text"], pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in docs["text"]], pa.int64()),
    })


def _emb_array(m: np.ndarray) -> pa.Array:
    """An (n, DIM) matrix as the list<float> column Spark reads as
    array<float>."""
    flat = pa.array(np.ascontiguousarray(m, dtype=np.float32).ravel())
    return pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32()))


def _vecs_table(vecs: dict) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(vecs["vec_id"], pa.int64()),
        "embedding": _emb_array(vecs["embedding"]),
        "label": pa.array(vecs["label"], pa.int32()),
    })


def write_corpus(out_dir: str, docs: dict, vecs: dict) -> None:
    """One parquet file per table, the layout `sources.tables` loads."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_docs_table(docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_vecs_table(vecs), os.path.join(out_dir, "embeddings.parquet"))


def _query_text(rng: np.random.Generator, vocab: list[str]) -> str:
    n = int(rng.integers(QUERY_WORDS[0], QUERY_WORDS[1] + 1))
    return " ".join(vocab[i] for i in rng.choice(len(vocab), n, replace=False))


def _with_kind(rng: np.random.Generator, req: dict, kind: str) -> dict:
    if kind == "vector":
        req["vector_id"] = int(rng.integers(0, BASE_VECS))
    elif kind == "metadata":
        req["query"] += " " + META_PHRASES[int(rng.integers(0, len(META_PHRASES)))]
    elif kind == "filter":
        if rng.random() < 0.5:
            req["tags"] = TAG_FILTERS[int(rng.integers(0, len(TAG_FILTERS)))]
        else:
            # memories_view spreads timestamps over 2026-01-01 + 0..364 days
            start = _EPOCH + timedelta(days=int(rng.integers(0, 300)))
            req["start"] = start.strftime("%Y-%m-%d %H:%M:%S")
            req["end"] = (start + timedelta(days=60)).strftime("%Y-%m-%d %H:%M:%S")
    return req


def _batch(rng: np.random.Generator, tag: str) -> dict:
    queries = []
    for q, kind in enumerate(BATCH_KINDS):
        req = _with_kind(rng, {"query": _query_text(rng, VOCAB)}, kind)
        queries.append(dict(req, query_id=f"{tag}q{q}"))
    return {"kind": "batch", "queries": queries, "limit": 10}


def warmup_batch(seed: int) -> dict:
    """The batch request the recall workload sends before its first block,
    from a stream of its own (same mix as a block's batch)."""
    return _batch(_rng(seed, "warmup"), "w")


def recall_stream(seed: int, blocks: int) -> list[list[dict]]:
    """The recall workload's request blocks (see BLOCK_RECALLS). Requests
    are dicts of plain values; the benchmark turns them into engine calls.
    Query vectors are corpus vectors, named by `vector_id`."""
    rng = _rng(seed, "recall")
    out = []
    for b in range(blocks):
        block = [_batch(rng, f"b{b}")]
        for i in rng.permutation(len(RECALL_KINDS)):
            req = {"kind": "recall", "query": _query_text(rng, VOCAB), "limit": 10}
            block.append(_with_kind(rng, req, RECALL_KINDS[i]))
        block.append({
            "kind": "recall_full", "query": _query_text(rng, VOCAB), "limit": 10,
            "priority_ids": [int(x) for x in rng.choice(500, 2, replace=False)],
        })
        out.append(block)
    return out


def ingest_batch(seed: int, cycle: int, texts: list[str], next_id: int) -> dict:
    """One maintenance ingest batch against a corpus whose current texts are
    `texts` (index = id) and whose next free id is `next_id`.

    Returns the batch's columns plus the role of each row (`new`,
    `exact_dup`, `near_dup`, `newer`) and the source id of each near
    duplicate, so the benchmark can check what dedup and upsert must find."""
    rng = _rng(seed, "ingest", cycle)
    n = int(len(texts) * INGEST_SHARE)
    shares = [INGEST_NEW, INGEST_EXACT_DUP, INGEST_NEAR_DUP, INGEST_NEWER]
    counts = [int(n * s) for s in shares]
    counts[0] += n - sum(counts)
    roles = ["new"] * counts[0] + ["exact_dup"] * counts[1] + ["near_dup"] * counts[2]
    ids = list(range(next_id, next_id + len(roles)))
    contents = [t + " " + _entity_sentence(rng) for t in _texts(rng, counts[0])]
    # sources of copies are distinct corpus ids, so each planted pair is one
    # exact group of two or one near-duplicate pair
    src = rng.choice(len(texts), counts[1] + counts[2] + counts[3], replace=False)
    contents += [texts[i] for i in src[:counts[1]]]
    for i in src[counts[1]:counts[1] + counts[2]]:
        ws = texts[i].split(" ")
        ws[int(rng.integers(0, len(ws)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        contents.append(" ".join(ws) + f" c{cycle}")
    newer = [int(i) for i in src[counts[1] + counts[2]:]]
    roles += ["newer"] * len(newer)
    ids += newer
    contents += [texts[i] + f" v{cycle}" for i in newer]
    total = len(roles)
    lang = [LANGS[i] for i in rng.choice(len(LANGS), total, p=LANG_P)]
    return {
        "id": np.asarray(ids, dtype=np.int64),
        "content": contents,
        "importance": np.round(rng.random(total), 3),
        "confidence": np.round(rng.random(total), 2),
        "day": rng.integers(0, 365, total),
        "lang": lang,
        "project": [PROJECT_VALUES[i] for i in rng.integers(0, 5, total)],
        "tool": [TOOL_VALUES[i] for i in rng.integers(0, 3, total)],
        "model": [f"model-{i}" for i in rng.integers(0, 4, total)],
        "embedding": _unit(rng, total),
        "role": roles,
        "near_src": [int(i) for i in src[counts[1]:counts[1] + counts[2]]],
    }


def write_batch(path: str, batch: dict, version_epoch: int) -> None:
    """The raw incoming batch as one parquet file with the memory-store
    columns; `type` is null so ingest normalization classifies every row."""
    n = len(batch["role"])
    lang, project, tool, model = (batch[k] for k in ("lang", "project", "tool", "model"))
    source = [f"src{i % 20}" for i in batch["id"]]
    ts = (np.datetime64("2026-01-01") + batch["day"].astype("timedelta64[D]")).astype(
        "datetime64[us]")
    table = pa.table({
        "id": pa.array(batch["id"], pa.int64()),
        "content": pa.array(batch["content"], pa.string()),
        "tags": pa.array([[f"lang:{a}", f"source:{b}"] for a, b in zip(lang, source)],
                         pa.list_(pa.string())),
        "importance": pa.array(batch["importance"], pa.float64()),
        "confidence": pa.array(batch["confidence"], pa.float64()),
        "timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "type": pa.nulls(n, pa.string()),
        "archived": pa.array(np.zeros(n, dtype=bool)),
        "t_valid": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        "t_invalid": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in batch["content"]], pa.int64()),
        "repo": pa.array([f"repo-{x}" for x in lang], pa.string()),
        "project": pa.array(project, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "model": pa.array(model, pa.string()),
        "metadata": pa.array([
            f'{{"source": "{a}", "repo": "repo-{b}", "project": "{c}", '
            f'"tool": "{d}", "model": "{e}"}}'
            for a, b, c, d, e in zip(source, lang, project, tool, model)
        ], pa.string()),
        "embedding": _emb_array(batch["embedding"]),
        "updated_at_epoch": pa.array(np.full(n, version_epoch, dtype=np.int64)),
    })
    pq.write_table(table, path)


def fingerprint(obj) -> str:
    """sha256 over a generated structure, for the same-seed self-check."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, dict):
            for k in sorted(o):
                h.update(str(k).encode())
                feed(o[k])
        elif isinstance(o, np.ndarray):
            h.update(o.tobytes())
        elif isinstance(o, (list, tuple)):
            for x in o:
                feed(x)
        else:
            h.update(repr(o).encode())

    feed(obj)
    return h.hexdigest()
