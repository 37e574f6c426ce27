"""The workloads: each is a closed loop with one client that sends its next
operation only after the previous one returned. A run measures whole
units (a recall block, a maintenance cycle): it starts the next unit only
while the time already spent plus one unit's mean stays within --seconds,
and always measures at least one. Before the first unit, each workload
makes one untimed warm-up call to the operator whose first call in a JVM
carries the most one-off JIT work.

Trap guards (see README.md):
- nothing is persisted or cached by the benchmark, every operation builds
  its DataFrame afresh from the source views, and `spark.catalog.clearCache()`
  runs between timed operations, so no result computed by one operation is
  served to the next from Spark's CacheManager;
- every result is fully evaluated: collected, or written to a parquet file
  the next step reads, never `count()`, which lets Catalyst prune the final
  projection and under-reports projection-heavy operators;
- all load comes from this one process, whose Spark session runs
  `local[nproc]`.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

import gen

NOW = "2026-06-01 00:00:00"
META_FIELDS = ["source", "repo", "project", "tool", "model"]
RECALL_LIMIT = 10
LSH_THRESHOLD = 0.4
CC_SLICE = 400          # ids of the store slice the clustering pass covers
CC_THRESHOLD = 0.35     # ~0.3% of random 64-d pairs: many small components
CREATIVE_MAX_ID = 200
STORE_COLS = [
    "id", "content", "tags", "importance", "confidence", "timestamp", "type",
    "archived", "t_valid", "t_invalid", "lang", "source", "n_chars", "repo",
    "project", "tool", "model", "metadata", "embedding", "updated_at_epoch",
]


class Run:
    """What one benchmark run shares between set-up, workload and checks."""

    def __init__(self, seed: int, workdir: str, cores: int) -> None:
        self.seed = seed
        self.workdir = workdir
        self.cores = cores
        self.spark = None
        self.tracer = None
        self.views: dict = {}
        self.inputs: dict = {}
        self.samples: dict[str, list[float]] = {}
        self.units: list[float] = []  # wall time of each measured unit
        self.unit_cpu: list[float] = []  # CPU time of each measured unit
        self.checks: list = []  # (name, callable returning list of errors)
        self.attempted = 0

    def more(self, deadline: float) -> bool:
        """Whether to start another unit: always the first one, then only
        while one more unit of the mean length fits before the deadline."""
        if not self.units:
            return True
        mean = sum(self.units) / len(self.units)
        return time.perf_counter() + mean <= deadline

    @contextmanager
    def unit(self):
        """Measure one unit: its wall time and the CPU time the whole
        process tree spent on it."""
        t0, c0 = time.perf_counter(), tree_cpu_s()
        yield
        self.unit_cpu.append(tree_cpu_s() - c0)
        self.units.append(time.perf_counter() - t0)

    def sample(self, name: str, seconds: float) -> None:
        self.samples.setdefault(name, []).append(seconds)

    def op(self, layer, build, evaluate, request=None, warmup=False):
        """One engine call, sampled under its layer name (a warm-up call is
        neither sampled nor traced); the cache is cleared after it so no
        later call can reuse its results."""
        self.attempted += 1
        if warmup:
            out = evaluate(build())
        else:
            out, b, x = self.tracer.op(layer, build, evaluate, request)
            self.sample(layer, b + x)
        self.clear()
        return out

    def clear(self) -> None:
        self.spark.catalog.clearCache()


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children's) of this process
    and every live descendant: the benchmark, its JVM and the JVM's Python
    workers. Time the hypervisor stole from the machine is not in it."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def _collect(df):
    return df.collect()


# ---------------------------------------------------------------------------
# inputs and source views
# ---------------------------------------------------------------------------

def make_inputs(run: Run) -> dict:
    """Generate the corpus files under the run's work dir. Both workloads
    read the same corpus, so set-up does the same work for each."""
    docs, vecs = gen.base_corpus(run.seed)
    sf = os.path.join(run.workdir, "corpus")
    gen.write_corpus(sf, docs, vecs)
    return {"sf": sf, "docs": docs, "vecs": vecs}


def build_views(run: Run, inputs: dict) -> dict:
    """The source views every workload reads, and one warm-up read of each
    (file listing, schema inference, the edges fixture)."""
    from automem_spark.sources.graph_fixture import edges_view
    from automem_spark.sources.tables import load_table, memories_view

    spark, sf = run.spark, inputs["sf"]
    mem = memories_view(spark, sf)
    emb = load_table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    v = {
        "mem": mem,
        "emb": emb,
        "edges": edges_view(spark, sf),
        "mem_vec": mem.join(emb, "id"),
        # the registry's multi-query corpus: memories that have a vector
        "corpus": mem.join(emb.hint("merge"), "id"),
        "tagged": _entity_tagged(mem),
    }
    for name in ("mem", "emb", "edges"):
        v[name].limit(1).collect()
    return v


def _entity_tagged(mem):
    """memories with entity:people:* tags on three ids in seven, so
    recall_full's entity expansion has slugs to expand (the registry's
    recall_full fixture does the same)."""
    return mem.withColumn(
        "tags",
        F.when(
            F.col("id") % 7 < 3,
            F.concat(
                F.col("tags"),
                F.array(F.concat(F.lit("entity:people:person-"),
                                 (F.col("id") % 7).cast("string"))),
            ),
        ).otherwise(F.col("tags")),
    )


# ---------------------------------------------------------------------------
# recall
# ---------------------------------------------------------------------------

def _vector(run: Run, r: dict):
    if "vector_id" not in r:
        return None
    return [float(x) for x in run.inputs["vecs"]["embedding"][r["vector_id"]]]


LAYER = {"recall": "recall.recall", "recall_full": "recall.recall_full",
         "batch": "recall.recall_many_hybrid"}


def recall_op(run: Run, r: dict, rid: str, warmup: bool = False):
    """One request of the recall stream; returns its rows."""
    from automem_spark.operators import recall as R

    v = run.views
    if r["kind"] == "recall":
        req = R.RecallRequest(query=r["query"], limit=r["limit"], tags=r.get("tags", []),
                              start=r.get("start"), end=r.get("end"))
        qv = _vector(run, r)
        pool = v["mem_vec"] if qv is not None else v["mem"]
        build = lambda: R.recall(pool, req, query_vector=qv, now=NOW)  # noqa: E731
    elif r["kind"] == "recall_full":
        req = R.RecallRequest(query=r["query"], limit=r["limit"])
        build = lambda: R.recall_full(  # noqa: E731
            v["tagged"], v["edges"], req, priority_ids=r["priority_ids"], now=NOW)
    else:
        queries = [(q["query_id"], q["query"]) for q in r["queries"]]
        qv = {q["query_id"]: _vector(run, q) for q in r["queries"] if "vector_id" in q}
        build = lambda: R.recall_many_hybrid(  # noqa: E731
            v["corpus"], queries, r["limit"], query_vectors=qv,
            meta_fields={f: F.col(f) for f in META_FIELDS}, now=NOW)
    return run.op(LAYER[r["kind"]], build, _collect, rid, warmup)


def run_recall(run: Run, deadline: float) -> None:
    import verify

    # The first recall_many_hybrid call in a JVM carries ~10 s of one-off
    # JIT and code generation, the largest and least steady part of a cold
    # block; one warm-up batch (not timed) runs before the first block.
    recall_op(run, gen.warmup_batch(run.seed), "warmup", warmup=True)
    for b, block in enumerate(gen.recall_stream(run.seed, 1000)):
        if not run.more(deadline):
            break
        with run.unit():
            for i, r in enumerate(block):
                rows = recall_op(run, r, f"block{b}.{i}")
                run.checks.append((f"{LAYER[r['kind']]} block{b}.{i}",
                                   verify.recall_check(run, r, rows)))


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------

class Store:
    """The benchmark's own record of the memory store: the current parquet
    path, and the content per id it expects the engine to hold."""

    def __init__(self, path: str, texts: list[str]) -> None:
        self.path = path
        self.texts = list(texts)


def _write(path):
    def evaluate(df):
        df.write.mode("overwrite").parquet(path)
        return path
    return evaluate


def maintenance_cycle(run: Run, store: Store, cycle: int, keep: bool) -> dict:
    """One ingest-plus-consolidation cycle. Returns the outputs the checks
    need (only when `keep`, so unchecked cycles hold no rows)."""
    from automem_spark.operators import consolidation, dedup, enrich, graph, ingest
    from automem_spark.operators.entity_extract import extract_entities
    from automem_spark.operators.similarity import cosine_threshold_self_join

    spark, wd, rid = run.spark, run.workdir, f"cycle{cycle}"
    batch = gen.ingest_batch(run.seed, cycle, store.texts, len(store.texts))
    raw_path = os.path.join(wd, f"raw-{cycle}.parquet")
    version = 2_000_000_000 + cycle  # newer than every corpus version
    gen.write_batch(raw_path, batch, version)
    out: dict = {"batch": batch}

    # -- ingest half ---------------------------------------------------
    norm_path = os.path.join(wd, f"norm-{cycle}")
    run.op("ingest.normalize_memories",
           lambda: ingest.normalize_memories(spark.read.parquet(raw_path)),
           _write(norm_path), rid)
    new_path = os.path.join(wd, f"store-{cycle}")

    def upsert():
        incoming = spark.read.parquet(norm_path).withColumn(
            "type", F.col("norm_type")).select(*STORE_COLS)
        return ingest.upsert_memories(spark.read.parquet(store.path), incoming,
                                      version_col="updated_at_epoch")

    run.op("ingest.upsert_memories", upsert, _write(new_path), rid)
    store.path = new_path
    for i, t, role in zip(batch["id"], batch["content"], batch["role"]):
        if role == "newer":
            store.texts[i] = t
        else:
            store.texts.append(t)
    store_df = lambda: spark.read.parquet(store.path)  # noqa: E731

    exact = run.op(
        "dedup.exact_dedup",
        lambda: dedup.exact_dedup(store_df(), text_col="content", id_col="id")
        .filter(F.col("dup_count") > 1), _collect, rid)
    pairs = run.op(
        "dedup.minhash_lsh_pairs",
        lambda: dedup.minhash_lsh_pairs(store_df(), LSH_THRESHOLD, text_col="content",
                                        id_col="id", num_hashes=64, bands=32),
        _collect, rid)
    if run.tracer.enabled:
        # waste ratio: confirmed pairs per LSH candidate (traced runs only)
        cand = dedup.minhash_lsh_pairs(store_df(), LSH_THRESHOLD, text_col="content",
                                       id_col="id", num_hashes=64, bands=32,
                                       verify=False).collect()
        run.tracer.layers["dedup.minhash_lsh_pairs"]["_cand"] += len(cand)
        run.tracer.layers["dedup.minhash_lsh_pairs"]["_pairs"] += len(pairs)
        run.clear()
    batch_df = lambda: spark.read.parquet(norm_path)  # noqa: E731
    ents = run.op(
        "entity_extract.extract_entities",
        lambda: extract_entities(batch_df().select("id", "content")), _collect, rid)
    enriched = run.op(
        "enrich.enrich_pipeline",
        lambda: enrich.enrich_pipeline(
            batch_df().select("id", "content", "tags", "timestamp", "source"),
            batch_df().select(F.col("id").alias("vec_id"), "embedding"),
            temporal_partition="source"),
        _collect, rid)

    # -- consolidation half ---------------------------------------------
    edges = run.views["edges"]
    creative = run.op(
        "consolidation.creative_pairs",
        lambda: consolidation.creative_pairs(
            store_df().drop("embedding"),
            store_df().filter(F.col("embedding").isNotNull())
            .select(F.col("id").alias("vec_id"), "embedding"),
            edges, max_id=CREATIVE_MAX_ID),
        _collect, rid)

    def cc_inputs():
        items = store_df().filter(F.col("id") < CC_SLICE).select("id", "embedding")
        return cosine_threshold_self_join(items, CC_THRESHOLD), items.select("id")

    def cc():
        pairs_cc, nodes = cc_inputs()
        return graph.connected_components(pairs_cc, nodes)

    labels = run.op("graph.connected_components", cc, _collect, rid)

    def clusters():
        pairs_cc, nodes = cc_inputs()
        return consolidation.cluster_summaries(pairs_cc, nodes, store_df(), min_members=3)

    summaries = run.op("consolidation.cluster_summaries", clusters, _collect, rid)
    heads = run.op("graph.resolve_supersession",
                   lambda: graph.resolve_supersession(edges), _collect, rid)

    def forget():
        rel_counts = edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("rel_count"))
        return consolidation.forget_classify(store_df(), rel_counts, now=NOW,
                                             delete_threshold=0.25, archive_threshold=0.35)

    forgotten = run.op("consolidation.forget_classify", forget, _collect, rid)
    drift = run.op("graph.sync_drift",
                   lambda: graph.sync_drift(edges, store_df()), _collect, rid)
    if keep:
        out.update(store=store.path, norm=norm_path, exact=exact, pairs=pairs,
                   ents=ents, enriched=enriched, creative=creative, labels=labels,
                   summaries=summaries, heads=heads, forgotten=forgotten, drift=drift,
                   texts=list(store.texts))
    return out


def run_maintenance(run: Run, deadline: float) -> None:
    from automem_spark.operators import dedup

    import verify

    # the initial store, written before the loop: memories without a
    # vector keep a null embedding (the enrichment backlog)
    store = Store(os.path.join(run.workdir, "store-init"), run.inputs["docs"]["text"])
    v = run.views
    (
        v["mem"].join(v["emb"], "id", "left")
        .withColumn("updated_at_epoch", F.col("timestamp").cast("long"))
        .select(*STORE_COLS)
        .write.mode("overwrite").parquet(store.path)
    )
    # The first minhash_lsh_pairs call in a JVM carries ~4 s of one-off JIT
    # work, the largest of any maintenance operator; one warm-up call over
    # the initial store (not timed) runs before the first cycle.
    run.op("dedup.minhash_lsh_pairs",
           lambda: dedup.minhash_lsh_pairs(run.spark.read.parquet(store.path), LSH_THRESHOLD,
                                           text_col="content", id_col="id",
                                           num_hashes=64, bands=32),
           _collect, "warmup", warmup=True)
    c = 0
    while run.more(deadline):
        with run.unit():
            out = maintenance_cycle(run, store, c, keep=c == 0)
        run.sample("maintenance.cycle", run.units[-1])
        if c == 0:
            run.checks.append(("maintenance cycle0", verify.maintenance_check(run, out)))
        c += 1
