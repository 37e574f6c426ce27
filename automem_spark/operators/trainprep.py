"""Training-data preparation operators beyond dedup/quality: benchmark
decontamination, PII redaction, deterministic data-mix sampling, and
sequence packing.

These extend the reference's data model (it has no training-export story —
nearest analog is the backup/export surface, `automem/api/backup.py:39-65`)
with the operations a 100 TB pretraining pipeline runs between "corpus on
disk" and "tokens into the trainer". Design rules shared by all four:

- Deterministic and engine-reproducible: every operator is a pure function
  of the input rows (md5-residue buckets, not rand()), so a re-run — or the
  DuckDB oracle — produces bit-identical selections. Reproducible sampling
  is a hard requirement for training-data lineage.
- One narrow pass where possible: decontamination joins against a BROADCAST
  eval-set n-gram table; sampling is a scan-level filter; packing shuffles
  once on (source, shard).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from automem_spark.operators.dedup import shingles_expr
from automem_spark.operators.textquality import token_count_expr

# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training documents sharing >= `min_hits` distinct word n-grams
    with any eval/benchmark document (the GPT-3/PaLM-style contamination
    rule, applied set-wise rather than per-eval-doc).

    Scale shape: the eval set is small (thousands of docs) — its distinct
    n-gram set is built once and BROADCAST; the 100 TB training side
    explodes to n-grams and probes the broadcast hash relation, so the only
    shuffle is the per-doc hit count (partial-aggregated map-side). No
    train×eval pair blowup, no corpus self-join. At production scale the
    join key would be xxhash64(ngram) to shrink the broadcast; here the
    raw shingle string keeps the DuckDB oracle exact (identical semantics —
    the hash is a pure bijection modulo negligible collisions).

    Returns one row per training doc: (id, n_hits, contaminated).
    """
    eval_ngrams = (
        eval_docs.select(F.explode(shingles_expr(F.col(text_col), n)).alias("ng"))
        .distinct()
    )
    hits = (
        train.select(
            F.col(id_col), F.explode(shingles_expr(F.col(text_col), n)).alias("ng")
        )
        # explode emits a distinct set per doc (shingles_expr dedups), so
        # counting joined rows == counting distinct overlapping n-grams
        .join(F.broadcast(eval_ngrams), "ng")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def decontaminate_map(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Arrow-kernel twin of :func:`decontaminate`: same (id, n_hits,
    contaminated) rows bit-identically, ONE ``mapInPandas`` pass instead of
    the train-side shingle explode (~60 string rows per doc) + broadcast
    join + two aggregations. The eval n-gram set is collected to the driver
    (same boundedness assumption the broadcast already makes) and shipped
    inside the kernel closure; each training doc computes its distinct
    shingle set in Python and counts the intersection.

    Bit-identity contract (pinned in tests/test_trainprep.py):
    - normalization mirrors :func:`~automem_spark.operators.dedup.
      normalized_text_expr` under ``re.ASCII`` (post-normalization text is
      pure ``[a-z0-9_ ]``, so Python ``strip``/``split`` match Java
      ``trim``/``split`` exactly);
    - shingling mirrors ``shingles_expr`` including the short-text branch
      (fewer than ``n`` words -> ONE whole-text shingle) and the empty
      split artifact (``"" -> [""]``);
    - NULL text explodes to zero rows on the expression path, i.e. 0 hits;
    - counts are exact integers. Training ids are assumed unique (the
      operator contract both paths share).
    """
    import re as _re
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from automem_spark.operators.dedup import shingles_expr

    eval_ngrams = frozenset(
        r[0]
        for r in eval_docs.select(
            F.explode(shingles_expr(F.col(text_col), n)).alias("ng")
        )
        .distinct()
        .collect()
    )
    # explicit broadcast: the set ships to each executor once instead of
    # riding every task's closure (guide §4.5 — matters when the eval set
    # is at the upper end of its bounded contract)
    bc = train.sparkSession.sparkContext.broadcast(eval_ngrams)
    punct_re = _re.compile(r"[^\w\s]", _re.ASCII)
    ws_re = _re.compile(r"\s+", _re.ASCII)

    def doc_hits(text, ngrams) -> int:
        if text is None:
            return 0
        t = ws_re.sub(" ", punct_re.sub(" ", str(text).lower())).strip()
        words = t.split(" ")
        if len(words) < n:
            shings = {" ".join(words)}
        else:
            shings = {
                " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
            }
        return len(shings & ngrams)

    # StructType (not DDL) so n_hits/contaminated carry nullable=False,
    # mirroring the expression path's coalesce-backed schema exactly
    out_schema = T.StructType(
        [
            train.schema[id_col],
            T.StructField("n_hits", T.LongType(), False),
            T.StructField("contaminated", T.BooleanType(), False),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ngrams = bc.value  # deserialized once per task
        for pdf in batches:
            hits = [doc_hits(t, ngrams) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_hits": pd.array(hits, dtype="int64"),
                    "contaminated": [h >= min_hits for h in hits],
                }
            )

    return train.select(id_col, text_col).mapInPandas(compute, schema=out_schema)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# RE2-safe patterns (no lookaround) so the DuckDB oracle runs them verbatim;
# Java regex accepts the same syntax. Order is redaction order: email first
# (its local part could otherwise be chewed up by number rules), then the
# digit shapes from most to least specific. \b is ASCII word boundary in
# both engines.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def pii_redact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Scrub emails / SSNs / IPv4s / phone numbers from `text_col`,
    returning per-doc counts per category plus the cleaned text.

    Pure column expressions (regexp_extract_all + chained regexp_replace) —
    whole-stage codegen, zero shuffle, scan-speed at 100 TB. Counts are
    taken before redaction in pattern order on the progressively-redacted
    string, so overlapping categories (an IP that could also parse as a
    phone fragment) are attributed to exactly one category each.

    `keep_cols` are passed through verbatim so a pipeline can carry e.g.
    `source` alongside the cleaned text WITHOUT a corpus-sized re-join on
    the id downstream (projection is free; a 100 TB self-join is not).
    """
    out_cols: list[Column] = [F.col(id_col)] + [F.col(c) for c in (keep_cols or [])]
    # null text counts as empty, not as NULL-propagated counts (size of a
    # null extract array is NULL, which would silently null n_pii)
    current = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    counts: list[Column] = []
    for name, pat, repl in PII_PATTERNS:
        cnt = F.size(F.regexp_extract_all(current, F.lit(pat), F.lit(0)))
        counts.append(cnt.cast("long").alias(f"n_{name}"))
        current = F.regexp_replace(current, pat, repl)
    return df.select(
        *out_cols,
        *counts,
        current.alias("clean_text"),
    ).withColumn(
        "n_pii",
        sum((F.col(f"n_{name}") for name, _, _ in PII_PATTERNS), F.lit(0)).cast("long"),
    )


# ---------------------------------------------------------------------------
# Deterministic data-mix sampling
# ---------------------------------------------------------------------------


def md5_bucket_expr(key: Column, buckets: int = 10_000) -> Column:
    """Uniform deterministic bucket in [0, buckets): first 8 hex chars of
    md5(key) as an integer, mod buckets. Engine-portable (md5 is identical
    everywhere) — the repo's standard trick for oracle-checkable
    pseudo-randomness (same family as the SimHash md5 twin)."""
    return F.pmod(
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(buckets),
    )


def _mix_thresholds(
    df: DataFrame, rates: dict[str, float], source_col: str, default_rate: float
) -> tuple[DataFrame, Column]:
    """Left-join the per-source keep thresholds as a BROADCAST rates table.

    A per-source CASE chain grows the expression tree linearly with source
    count — fine at tens of sources, pathological at hundreds (codegen blowup
    was the r5 verdict's scale nit). A broadcast hash join keeps the plan
    size constant no matter how many sources the mix has, with bit-identical
    selection semantics (same integer thresholds, same md5 buckets).
    Returns (joined frame, threshold column); callers drop `_mix_thresh`.
    """
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    # the join introduces reserved helper columns; an input that already has
    # them would corrupt the join/drop silently (r6 advice) — refuse loudly
    clash = {"_mix_source", "_mix_thresh"} & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with data-mix helper "
            "columns; rename them before sampling"
        )
    spark = df.sparkSession
    rates_df = spark.createDataFrame(
        [(s, int(r * 10_000)) for s, r in sorted(rates.items())],
        schema=StructType(
            [
                StructField("_mix_source", StringType()),
                StructField("_mix_thresh", IntegerType()),
            ]
        ),
    )
    joined = df.join(
        F.broadcast(rates_df), F.col(source_col) == F.col("_mix_source"), "left"
    ).drop("_mix_source")
    thresh = F.coalesce(F.col("_mix_thresh"), F.lit(int(default_rate * 10_000)))
    return joined, thresh


def data_mix_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-source weighted sampling for training-mix construction: keep a
    deterministic `rates[source]` fraction of each source's documents.

    The keep decision is a pure row-local predicate (md5 bucket of the doc
    id vs the source's broadcast-joined threshold) — a scan-level filter
    with NO shuffle and no rand(): re-runs, retries, and the DuckDB oracle
    all select the exact same rows, which is what makes the resulting mix
    reproducible and auditable. Sources absent from `rates` fall back to
    `default_rate`.
    """
    joined, thresh = _mix_thresholds(df, rates, source_col, default_rate)
    return joined.filter(md5_bucket_expr(F.col(id_col)) < thresh).drop("_mix_thresh")


def mix_census(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Audit view of :func:`data_mix_sample`: per source, total docs,
    selected docs, and the observed rate — one aggregation over one scan
    (the keep flag is computed inline, not via a second pass). Takes the
    SAME `default_rate` as the sampler so the census agrees with the actual
    selection for sources outside `rates`."""
    joined, thresh = _mix_thresholds(df, rates, source_col, default_rate)
    keep = (md5_bucket_expr(F.col(id_col)) < thresh).cast("long")
    return (
        joined.groupBy(source_col)
        .agg(
            F.count("*").alias("n_total"),
            F.sum(keep).alias("n_selected"),
            F.round(F.sum(keep) / F.count("*"), 6).alias("observed_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    window_tokens: int = 512,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int | None = None,
) -> DataFrame:
    """Assign documents to fixed-size training context windows
    (fixed-boundary packing: a document starts in the window its cumulative
    token offset falls in; long docs may straddle — the trainer's chunker
    splits them, which is the standard pretraining layout).

    Scale shape: the running token offset is a window function partitioned
    by (source, shard) where shard = md5_bucket(id) % `shards` — NOT a
    single global ordered window, which would funnel 100 TB through one
    reducer. Each shard packs independently (windows are shard-local, like
    per-file packing in a real pipeline); ordering inside a shard is by doc
    id, so the layout is deterministic and oracle-reproducible. One shuffle
    total.

    `shards` BOUNDS packing parallelism at sources × shards reducers: at
    100 TB a small fixed value would funnel each source through a handful
    of reducers, so the default (None) derives it from the cluster's
    parallelism (`defaultParallelism`, ≥4). Pass an explicit value when the
    window layout itself must be reproducible across differently-sized
    clusters (the shard assignment — and hence window ids — depends on it).
    """
    from pyspark.sql import Window

    if shards is None:
        shards = max(4, df.sparkSession.sparkContext.defaultParallelism)
    toks = token_count_expr(F.col(text_col)).cast("long")
    shard = md5_bucket_expr(F.col(id_col)) % shards
    w = (
        Window.partitionBy(source_col, "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_offset = (
        df.select(F.col(id_col), F.col(source_col), toks.alias("n_tokens"), shard.alias("shard"))
        .withColumn("offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("window_id", F.floor(F.col("offset") / window_tokens))
    )
    return with_offset


def packing_census(
    df: DataFrame,
    window_tokens: int = 512,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int | None = None,
) -> DataFrame:
    """Per-(source, shard, window) packing stats: docs packed, token fill,
    and fill ratio — the audit table a pipeline checks before tokenizing.
    `shards` defaults like :func:`pack_sequences` (cluster parallelism)."""
    packed = pack_sequences(df, window_tokens, source_col, id_col, text_col, shards)
    return packed.groupBy(source_col, "shard", "window_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(F.sum("n_tokens") / F.lit(float(window_tokens)), 6).alias("fill_ratio"),
    )


def chunk_documents(
    df: DataFrame,
    *,
    chunk_words: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping fixed-width word windows — the
    context-window prep step between cleaning and tokenization (also the
    retrieval-chunking shape RAG indexes use).

    Start positions are 1, 1+stride, 2*stride+1, ... so consecutive chunks
    overlap by chunk_words - stride words; the final chunk is truncated,
    never dropped (every word lands in >= 1 chunk). The chunk carries an
    md5 content address rather than the word array itself — chunk-level
    exact dedup composes directly, and the hash is an engine-portable twin
    (Spark md5 == DuckDB md5 over the identical joined string).

    One generate-and-explode projection: no shuffle, no UDF; at 100 TB this
    pipelines with the scan and parallelizes by input split. Fan-out is
    ~len/stride rows per doc, so downstream stages see a frame ~1.3x the
    corpus word count at the defaults.
    """
    from automem_spark.operators.textquality import words_expr

    if not 0 < stride <= chunk_words:
        raise ValueError(
            f"stride must be in (0, chunk_words]; got stride={stride}, "
            f"chunk_words={chunk_words} — a stride beyond the chunk width "
            "would silently drop the words between windows"
        )
    # r14: bind the word array once — inline, the `starts` expression
    # referenced the tokenizer subtree three times (two sizes + the
    # sequence bound) on top of the `_ws` output binding, and Catalyst
    # does not CSE across HOF arguments: four tokenizations per row.
    # Bound as a multi-referenced non-cheap alias it runs once (same
    # values; doc_chunks/chunk_dedup oracle rows pin the outputs).
    d = df.withColumn("_ws", words_expr(F.col(text_col)))
    words = F.col("_ws")
    starts = F.when(F.size(words) > 0, F.sequence(
        F.lit(1), F.greatest(F.size(words) - (chunk_words - stride), F.lit(1)),
        F.lit(stride),
    )).otherwise(F.array().cast("array<int>"))
    exploded = d.select(
        F.col(id_col), words.alias("_ws"), F.posexplode(starts).alias("_i", "_start")
    )
    chunk = F.slice(F.col("_ws"), F.col("_start"), chunk_words)
    return exploded.select(
        F.col(id_col),
        F.col("_i").cast("bigint").alias("chunk_idx"),
        F.col("_start").cast("bigint").alias("start_word"),
        F.size(chunk).cast("bigint").alias("n_words"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


def chunk_dedup(
    df: DataFrame,
    *,
    chunk_words: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_chunk_frac: float = 0.5,
) -> DataFrame:
    """Chunk-level dedup verdict — the composition a RAG / pretraining
    pipeline runs after :func:`chunk_documents`: chunk the corpus, exact-
    dedup on the md5 content address, and score each document by the
    fraction of its chunks that already occurred earlier in the corpus
    (boilerplate headers, mirrored articles, near-identical revisions all
    surface here even when whole-document dedup misses them).

    A chunk is a duplicate when another chunk with the same ``chunk_md5``
    has a smaller (doc, chunk_idx) — the same deterministic first-
    occurrence keeper rule as exact document dedup (dedup.py), so re-runs
    and the DuckDB oracle pick identical keepers.

    Scale shape: chunking is a generate-and-explode projection (zero
    shuffle); the keeper rank is ONE hash shuffle on chunk_md5 (md5 groups
    are tiny — window skew impossible); the per-doc rollup is one more
    shuffle on the doc id. No self-join, no corpus×corpus pair blowup —
    at 100 TB this is two shuffles over ~1.3× the corpus word count.

    Output: one row per document with >= 1 chunk:
    (id, n_chunks, n_dup_chunks, dup_chunk_frac, keep).
    """
    from pyspark.sql import Window

    chunks = chunk_documents(
        df, chunk_words=chunk_words, stride=stride, text_col=text_col, id_col=id_col
    )
    rn = F.row_number().over(
        Window.partitionBy("chunk_md5").orderBy(id_col, "chunk_idx")
    )
    ranked = chunks.select(id_col, "chunk_idx", rn.alias("_rn"))
    dup = F.sum((F.col("_rn") > 1).cast("long"))
    per_doc = ranked.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        dup.alias("n_dup_chunks"),
    )
    from automem_spark.functions.detmath import det_round

    frac = det_round(F.col("n_dup_chunks") / F.col("n_chunks"), 6)
    return per_doc.select(
        id_col,
        "n_chunks",
        "n_dup_chunks",
        frac.alias("dup_chunk_frac"),
        (frac <= max_dup_chunk_frac).alias("keep"),
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_refs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space contamination flagging: a training item whose max
    cosine against ANY eval/benchmark vector reaches `threshold` is a
    semantic near-duplicate of eval data — the paraphrase/translation
    contamination the n-gram rule (:func:`decontaminate`) cannot see.
    The two are complements: n-grams catch verbatim leakage cheaply,
    embeddings catch meaning-level leakage.

    Scale shape mirrors :func:`decontaminate`: the eval side is small and
    BROADCAST; the corpus side streams through one scan, computes cosines
    against the broadcast matrix, and partial-aggregates max per item
    map-side — the shuffle carries one row per training item, never the
    train x eval product. At very large eval sets, use
    :func:`semantic_decontaminate_ivf`, which pre-buckets both sides with
    the IVF quantizer so each training item probes only the eval vectors
    whose cells neighbor its own.

    Returns one row per training item: (id, max_eval_cos, contaminated).
    """
    from automem_spark.functions.detmath import det_round
    from automem_spark.functions.vector import dot_expr, norm_expr

    # r14: bind per-row norms on each side of the cross join — inline,
    # cosine_expr's denominator appears in both the zero-guard and the
    # divisor (no CSE across HOF lambdas), so every train×eval PAIR paid
    # five O(d) aggregate passes; per-row norms are recomputed |other
    # side| times. Bound, each pair pays ONE dot pass. denom = nt*ne is
    # the identical product in the identical order — bit-identical sims
    # (the decontaminate oracle rows and the matmul-twin equality test
    # pin it).
    ev = F.broadcast(
        eval_refs.select(
            F.col(id_col).alias("_ev_id"),
            F.col(vec_col).alias("_ev_vec"),
            norm_expr(F.col(vec_col)).alias("_ev_norm"),
        )
    )
    joined = train.select(
        id_col, vec_col, norm_expr(F.col(vec_col)).alias("_tr_norm")
    ).crossJoin(ev)
    _denom = F.col("_tr_norm") * F.col("_ev_norm")
    sim = F.when(_denom == 0.0, F.lit(0.0)).otherwise(
        dot_expr(F.col(vec_col), F.col("_ev_vec")) / _denom
    )
    agg = joined.groupBy(id_col).agg(F.max(sim).alias("max_eval_cos"))
    # det_round, not F.round: the matmul/IVF twins and the DuckDB oracle
    # all report floor(x*1e6+0.5)/1e6 (the r7 half-boundary convention),
    # so all four sides of this operator share ONE rounding mode
    return agg.select(
        id_col,
        det_round(F.col("max_eval_cos"), 6).alias("max_eval_cos"),
        (F.col("max_eval_cos") >= threshold).alias("contaminated"),
    )


def semantic_decontaminate_matmul(
    train: DataFrame,
    eval_refs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Broadcast-matmul twin of :func:`semantic_decontaminate` — identical
    semantics (max cosine per training item against the whole eval set),
    different physical shape: the eval matrix ships to executors once
    (closure broadcast, eval_n x dim doubles) and each Arrow batch computes
    the full (batch x eval) cosine block with ONE BLAS matmul, taking the
    row max directly.

    Why it exists (r9, the repetition-filter playbook applied to the other
    dual-path operator): the expression path materializes the train x eval
    crossJoin as ROWS and evaluates a higher-order-function cosine per
    pair — allocation-bound at ~30us/pair — then shuffles a row per item
    for the groupBy max. The matmul form does the same flops inside BLAS
    at memory bandwidth, needs NO join and NO shuffle (each item's verdict
    is independent, so the max happens in the batch), and pipelines with
    the scan: ONE Arrow pass over the corpus, zero exchanges. At 100 TB
    the eval matrix (thousands..100k vectors) is megabytes broadcast to
    every executor, and cost is train_bytes x eval_n at BLAS speed.

    Equality with the expression path is property-tested at two SFs
    (tests/test_trainprep.py); the expression path remains the SQL oracle
    anchor. Above ~100k eval vectors (broadcast matrix >> 50 MB) switch to
    :func:`semantic_decontaminate_ivf`, which prunes candidates by cell.

    Returns one row per training item: (id, max_eval_cos, contaminated).
    """
    import numpy as np

    ev_rows = eval_refs.select(vec_col).collect()
    src = train.select(id_col, vec_col)
    id_type = src.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, max_eval_cos double, contaminated boolean"

    if not ev_rows:
        # empty eval set: every item's max cosine over an empty set is
        # vacuously 0.0 / not contaminated (np.asarray of zero rows would
        # otherwise be (0,)-shaped and crash the axis=1 norm)
        return src.select(
            id_col,
            F.lit(0.0).alias("max_eval_cos"),
            F.lit(False).alias("contaminated"),
        )

    emat = np.asarray([[float(x) for x in r[0]] for r in ev_rows], dtype=np.float64)
    enorm = np.linalg.norm(emat, axis=1)
    enorm[enorm == 0] = 1.0
    emat_n = emat / enorm[:, None]
    spark = train.sparkSession
    bc = spark.sparkContext.broadcast(emat_n)

    def compute(batches):
        import numpy as np
        import pandas as pd

        em = bc.value
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "max_eval_cos": [], "contaminated": []}
                )
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            norms[norms == 0] = 1.0
            mx = ((vecs / norms[:, None]) @ em.T).max(axis=1)
            # flag on the UNROUNDED max (the expression path compares
            # before rounding); round only the reported column, with the
            # engine-shared det_round formula floor(x*1e6+0.5)/1e6 — the
            # same FP ops the expression path and the DuckDB oracle run,
            # so a half-boundary cosine can't flake the cross-check
            flag = mx >= threshold
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "max_eval_cos": np.floor(mx * 1e6 + 0.5) / 1e6,
                    "contaminated": flag,
                }
            )

    return src.mapInPandas(compute, schema=out_schema)


# Measured crossover (BENCH_SF1.md "Round-9 race", min-of-2 noop):
# matmul wins 0.58s vs 3.3s at 20k x 207 pairs, 1.7s vs 10.1s at 18k x 2k,
# 6.4s vs 8.0s at 58k x 2k; ivf first wins at 198k x 2062 ~= 4.1e8 pairs
# (10.2s vs 12.5s) where its pruning amortizes the fixed quantizer fit.
# Between the sf3 point (1.2e8 pairs, matmul) and the sf10 point (4.1e8,
# ivf) — the gate sits at the midpoint.
DECONTAMINATE_PAIRS_CROSSOVER = 2.5e8
# Documented error bound of estimate_rows' sizeInBytes/row-width fallback:
# plan-statistic dispatch is only trusted outside [crossover/3, crossover*3];
# inside that band the dispatcher pays an exact count() (the two paths are
# not semantically identical, so a stats flip would change results).
DECONTAMINATE_ESTIMATE_MARGIN = 3


def decontaminate_path(n_train: int, n_eval: int) -> str:
    """Size-gated path choice for :func:`semantic_decontaminate_auto` —
    pure so the gate itself is unit-testable."""
    return (
        "ivf" if n_train * n_eval > DECONTAMINATE_PAIRS_CROSSOVER else "matmul"
    )


def estimate_trustworthy(pairs: float) -> bool:
    """True when a plan-statistic pair-count estimate clears the dispatch
    crossover by >= the documented error margin on either side — pure so
    the ambiguity band is unit-testable (advisor r10)."""
    return not (
        DECONTAMINATE_PAIRS_CROSSOVER / DECONTAMINATE_ESTIMATE_MARGIN
        <= pairs
        <= DECONTAMINATE_PAIRS_CROSSOVER * DECONTAMINATE_ESTIMATE_MARGIN
    )


def estimate_rows(df: DataFrame) -> int | None:
    """Zero-action row-count estimate from Catalyst's plan statistics.

    Prefers the optimizer's rowCount (exact when CBO stats or a cached
    relation supply it); otherwise derives an estimate from the plan's
    sizeInBytes and the schema's Catalyst defaultSize per row. Returns
    None when the plan offers nothing usable (e.g. a raw local relation
    with no stats) — callers fall back to count() as a LAST resort.

    Accuracy contract: consumers gate order-of-magnitude decisions (the
    decontamination crossover sits at 2.5e8 pairs), so a 2-3x estimate
    error is acceptable; an unconditional full scan to learn the exact
    count is not (at 100 TB the dispatcher would double the I/O of the
    job it dispatches).
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
    except Exception:
        return None
    if size <= 0:
        return None
    row_bytes = _schema_default_row_bytes(df.schema)
    if row_bytes <= 0:
        return None
    return max(1, size // row_bytes)


def _schema_default_row_bytes(schema) -> int:
    """Mirror of Catalyst's DataType.defaultSize for the types this repo
    ships (fixed-width primitives exact; strings/binaries use Catalyst's
    own 20-byte default; arrays assume one element like Catalyst does
    BUT embeddings are the dominant column at this call site, so arrays
    of numerics are costed at a nominal 64 elements instead — closer to
    real embedding widths and errs toward the exact path)."""
    from pyspark.sql import types as T

    def width(dt) -> int:
        if isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType)):
            return 8
        if isinstance(dt, (T.IntegerType, T.FloatType, T.DateType)):
            return 4
        if isinstance(dt, (T.ShortType,)):
            return 2
        if isinstance(dt, (T.ByteType, T.BooleanType)):
            return 1
        if isinstance(dt, (T.StringType, T.BinaryType)):
            return 20
        if isinstance(dt, T.ArrayType):
            elem = width(dt.elementType)
            return elem * (64 if elem <= 8 else 1)
        if isinstance(dt, T.StructType):
            return sum(width(f.dataType) for f in dt.fields)
        if isinstance(dt, T.MapType):
            return width(dt.keyType) + width(dt.valueType)
        return 8
    return sum(width(f.dataType) for f in schema.fields)


def semantic_decontaminate_auto(
    train: DataFrame,
    eval_refs: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    force_exact: bool = False,
    n_train: int | None = None,
    n_eval: int | None = None,
    **ivf_kwargs,
) -> DataFrame:
    """Size-gated dispatcher over the measured crossover: the exact
    broadcast-matmul twin below ~2.5e8 train x eval pairs, the IVF
    candidate-pruned path above it.

    Sizing the gate WITHOUT scanning the corpus (r9 advisor finding: the
    old unconditional train.count() was a full-scan action run just to
    decide how to scan again — at 100 TB the dispatcher doubled the I/O
    of the job it dispatched). Resolution order per side:
    caller hint (``n_train``/``n_eval``) > Catalyst plan statistics
    (:func:`estimate_rows` — rowCount when the optimizer has one, else
    sizeInBytes/row-width) > count() as a last resort. The eval side is
    small by contract (both downstream paths collect it), so its count()
    fallback is cheap; the train-side fallback only fires for plans with
    no file-level statistics at all.

    LOUD semantic caveat: the IVF path is a LOWER BOUND (an item compared
    only against eval vectors probing its cell; unprobed cells report
    max_eval_cos 0.0) — flags are property-tested equal on the fixture at
    the default probe width, but exactness is not guaranteed in general.
    Pass ``force_exact=True`` when the verdict feeds an irreversible drop
    decision and the pair count is affordable; the registry/oracle row
    always runs the exact twin.
    """
    if not force_exact:
        estimated = False
        if n_eval is None:
            n_eval = estimate_rows(eval_refs)
            estimated = estimated or n_eval is not None
            if n_eval is None:
                n_eval = eval_refs.count()
        if n_train is None:
            est = estimate_rows(train)
            estimated = estimated or est is not None
            n_train = est if est is not None else train.count()
        # Plan-statistic estimates carry a documented 2-3x error; near the
        # crossover that error can silently flip dispatch to the IVF path,
        # whose output is semantically different (lower bound). Only trust
        # an estimate when it clears the crossover by >= the error margin
        # on either side; in the ambiguous band pay the exact count()
        # (advisor r10 — correctness beats the saved scan only when the
        # two paths could disagree).
        if estimated and not estimate_trustworthy(n_train * n_eval):
            n_train = train.count()
            n_eval = eval_refs.count()
    if force_exact or decontaminate_path(n_train, n_eval) == "matmul":
        return semantic_decontaminate_matmul(
            train, eval_refs, threshold, id_col=id_col, vec_col=vec_col
        )
    return semantic_decontaminate_ivf(
        train, eval_refs, threshold, id_col=id_col, vec_col=vec_col, **ivf_kwargs
    )


def _ivf_cell_eval_matrices(
    ev_rows: list,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
) -> dict[int, "np.ndarray"]:
    """{cell -> row-normalized eval sub-matrix of the vectors probing it}.

    Each eval vector fans out to its `nprobe` nearest cells (probe order
    identical to similarity.py: cosine desc, centroid id asc on ties), so
    the total row count across all values is EXACTLY len(ev_rows) x nprobe
    — the bounded candidate relation the probes-are-bounded test pins.
    """
    import numpy as np

    cids = [cid for cid, _ in sorted(centroids)]
    cmat = np.asarray([vec for _, vec in sorted(centroids)], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0] = 1.0
    emat = np.asarray([[float(x) for x in r[1]] for r in ev_rows], dtype=np.float64)
    enorm = np.linalg.norm(emat, axis=1)
    enorm[enorm == 0] = 1.0
    sims = (emat @ cmat.T) / enorm[:, None] / cnorm[None, :]
    # argsort ascending on (-sim, cid) == the probe order of similarity.py
    probe_idx = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    emat_n = emat / enorm[:, None]
    by_cell: dict[int, list[int]] = {}
    for ei, row in enumerate(probe_idx):
        for ci in row:
            by_cell.setdefault(int(cids[ci]), []).append(ei)
    return {c: emat_n[idx] for c, idx in by_cell.items()}


def semantic_decontaminate_ivf(
    train: DataFrame,
    eval_refs: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    nprobe: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Large-eval-set path for :func:`semantic_decontaminate`: instead of
    broadcasting the WHOLE eval matrix to every training row (cost
    O(train x eval x dim) — fine at thousands of eval vectors, not at
    millions), pre-bucket both sides with the IVF coarse quantizer
    (operators/similarity.py):

    - train vectors get their nearest cell (vectorized argmax, one Arrow
      pass, no shuffle);
    - each eval vector fans out to its `nprobe` nearest cells (a tiny
      (cell, eval) relation — eval x nprobe rows — built driver-side and
      BROADCAST);
    - cosines run only for pairs sharing a cell, so the compute shrinks to
      ~nprobe/n_centroids of the cross product while the shuffle still
      carries one row per training item.

    Approximate: a training item is compared only against eval vectors
    probing its cell, so `max_eval_cos` is a lower bound and items in
    cells no eval vector probes report 0.0. The property test
    (tests/test_trainprep.py) pins flag-set EQUALITY with the exact path
    at the default probe width on the fixture; the exact path remains the
    oracle row.

    Physical shape (r9 rewrite, raced in BENCH_SF1.md "Round-9 race"):
    the original join + per-pair higher-order-function cosine + groupBy
    was allocation-bound (~30us/pair) and shuffled a row per item; the
    candidate relation is instead broadcast as {cell -> normalized eval
    sub-matrix} and each Arrow batch groups its rows by cell and runs ONE
    BLAS block per (batch, cell) — the same kernel as
    :func:`semantic_decontaminate_matmul`, shrunk by the probe pruning.
    ONE Arrow scan, zero shuffle, cost ~= matmul x nprobe/n_centroids —
    which is the only regime where this path can beat the exact matmul,
    i.e. eval sets too large to broadcast whole.
    """
    from automem_spark.operators.similarity import assign_cells, kmeans_centroids

    # eval side: nprobe nearest cells per vector, computed in one driver-
    # side matmul (the eval set is the SMALL side; this is the same order
    # of driver work as the exact path's broadcast materialization)
    ev_rows = eval_refs.select(id_col, vec_col).collect()
    if not ev_rows:
        # same vacuous-truth contract as the matmul twin: max cosine over
        # an empty eval set is 0.0 / not contaminated (and the quantizer
        # fit + cell matrices would otherwise choke on a (0, ) matrix)
        return train.select(
            id_col,
            F.lit(0.0).alias("max_eval_cos"),
            F.lit(False).alias("contaminated"),
        )

    if centroids is None:
        centroids = kmeans_centroids(train, n_centroids, item_vec=vec_col)
    nprobe = min(nprobe, len(centroids))

    assigned = assign_cells(
        train.select(id_col, vec_col), centroids, item_vec=vec_col
    )

    cell_mats = _ivf_cell_eval_matrices(ev_rows, centroids, nprobe)

    spark = train.sparkSession
    bc = spark.sparkContext.broadcast(cell_mats)
    id_type = assigned.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, max_eval_cos double, contaminated boolean"

    def compute(batches):
        import numpy as np
        import pandas as pd

        mats = bc.value
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "max_eval_cos": [], "contaminated": []}
                )
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            norms[norms == 0] = 1.0
            vecs = vecs / norms[:, None]
            mx = np.zeros(len(pdf))  # unprobed cells: lower bound 0.0
            cells = pdf["cell"].to_numpy()
            for c in np.unique(cells):
                em = mats.get(int(c))
                if em is None:
                    continue
                sel = cells == c
                mx[sel] = (vecs[sel] @ em.T).max(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    # det_round twin (floor(x*1e6+0.5)/1e6) — see matmul
                    "max_eval_cos": np.floor(mx * 1e6 + 0.5) / 1e6,
                    "contaminated": mx >= threshold,
                }
            )

    return assigned.mapInPandas(compute, schema=out_schema)
