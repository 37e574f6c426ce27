"""Entity operators: dedup candidates (J16), merge application (J17),
identity lookup (J10), reference counts (A13).

Reference: automem/consolidation/entity_dedup.py:43-216, automem/api/entity.py.

All pure DataFrame: the pair scan is a same-category self-join (the reference
is an O(N²) Python loop; here Catalyst shuffles on category and the
slug-similarity expressions run JVM-side with the built-in levenshtein()).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def slug_similarity_expr(a: Column, b: Column) -> Column:
    """entity_dedup.py:59-76: 1.0 if equal; substring -> max(0.6,
    shorter/longer); else max(0, 1 - levenshtein/maxlen)."""
    len_a, len_b = F.length(a), F.length(b)
    shorter = F.least(len_a, len_b).cast("double")
    longer = F.greatest(len_a, len_b).cast("double")
    substring = a.contains(b) | b.contains(a)
    ratio = F.when(longer > 0, shorter / longer).otherwise(F.lit(0.0))
    lev_sim = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - F.levenshtein(a, b).cast("double") / F.greatest(longer, F.lit(1.0)),
    )
    return (
        F.when(a == b, F.lit(1.0))
        .when(substring, F.greatest(F.lit(0.6), ratio))
        .otherwise(lev_sim)
    )


def entity_merge_candidates(
    entities: DataFrame,
    entity_refs: DataFrame,
    *,
    min_slug_similarity: float = 0.5,
    min_overlap_for_auto: float = 0.6,
) -> DataFrame:
    """J16 (entity_dedup.py:94-216): same-category pairs with slug_sim >= 0.5;
    overlap = |shared refs| / |smaller ref set|;
    confidence = min(1, 0.4*sim + 0.6*overlap);
    bucket 'auto' iff substring AND overlap > 0.6 AND conf >= 0.8 AND not
    ambiguous-generic ('people' alias slug without '-' extending to >1
    hyphenated slug); else 'review' iff conf >= 0.5 or ambiguous-generic.

    Output: (entity_a, entity_b, canonical_id, bucket, slug_sim, overlap,
    confidence) — canonical = longer slug (first-of-pair on length ties).
    """
    active = entities.filter(F.col("merged_into").isNull()).select("id", "slug", "category")
    refs = entity_refs.groupBy("entity_id").agg(
        F.collect_set("memory_id").alias("mems")
    )
    e = active.join(refs, active.id == refs.entity_id, "left").select(
        "id", "slug", "category", F.coalesce(F.col("mems"), F.array()).alias("mems")
    )
    a = e.select(
        F.col("id").alias("id_a"), F.col("slug").alias("slug_a"),
        F.col("category").alias("category"), F.col("mems").alias("mems_a"),
    )
    b = e.select(
        F.col("id").alias("id_b"), F.col("slug").alias("slug_b"),
        F.col("category").alias("cat_b"), F.col("mems").alias("mems_b"),
    )
    pairs = a.join(b, (F.col("category") == F.col("cat_b")) & (F.col("id_a") < F.col("id_b")))

    sim = slug_similarity_expr(F.col("slug_a"), F.col("slug_b"))
    n_a, n_b = F.size("mems_a"), F.size("mems_b")
    inter = F.size(F.array_intersect("mems_a", "mems_b"))
    overlap = F.when(
        (n_a > 0) & (n_b > 0), inter.cast("double") / F.least(n_a, n_b).cast("double")
    ).otherwise(F.lit(0.0))
    confidence = F.least(F.lit(1.0), sim * 0.4 + overlap * 0.6)
    substring = F.col("slug_a").contains(F.col("slug_b")) | F.col("slug_b").contains(
        F.col("slug_a")
    )
    # canonical: longer slug wins; tie -> first of pair (entity_dedup.py:169-174)
    canonical = F.when(
        F.length("slug_a") >= F.length("slug_b"), F.col("id_a")
    ).otherwise(F.col("id_b"))
    alias_slug = F.when(
        F.length("slug_a") >= F.length("slug_b"), F.col("slug_b")
    ).otherwise(F.col("slug_a"))

    # ambiguous generic: a bare 'people' slug (no '-') whose first token
    # extends to >1 hyphenated slug in the same category
    ext = (
        active.filter(F.col("slug").contains("-"))
        .select(
            F.col("category").alias("ext_category"),
            F.split(F.col("slug"), "-")[0].alias("first_token"),
        )
        .groupBy("ext_category", "first_token")
        .agg(F.count("*").alias("n_ext"))
    )
    scored = pairs.select(
        F.col("id_a").alias("entity_a"),
        F.col("id_b").alias("entity_b"),
        canonical.alias("canonical_id"),
        "category",
        alias_slug.alias("alias_slug"),
        sim.alias("slug_sim"),
        overlap.alias("overlap"),
        confidence.alias("confidence"),
        substring.alias("is_substring"),
    ).filter(F.col("slug_sim") >= min_slug_similarity)
    scored = scored.join(
        F.broadcast(ext),
        (F.col("category") == F.col("ext_category"))
        & (F.col("alias_slug") == F.col("first_token")),
        "left",
    ).drop("ext_category", "first_token")
    ambiguous = (
        (F.col("category") == "people")
        & ~F.col("alias_slug").contains("-")
        & (F.length("alias_slug") >= 3)
        & (F.coalesce(F.col("n_ext"), F.lit(0)) > 1)
    )
    bucket = F.when(
        F.col("is_substring")
        & (F.col("overlap") > min_overlap_for_auto)
        & (F.col("confidence") >= 0.8)
        & ~ambiguous,
        "auto",
    ).when((F.col("confidence") >= 0.5) | ambiguous, "review")
    return (
        scored.withColumn("bucket", bucket)
        .filter(F.col("bucket").isNotNull())
        .select(
            "entity_a", "entity_b", "canonical_id", "bucket",
            F.round("slug_sim", 6).alias("slug_sim"),
            F.round("overlap", 6).alias("overlap"),
            F.round("confidence", 6).alias("confidence"),
        )
    )


def apply_entity_merges(
    entity_refs: DataFrame, merges: DataFrame
) -> DataFrame:
    """J17 (entity_dedup.py:219-322): move REFERENCED_IN edges from alias to
    canonical, deduplicating. merges: (canonical_id, alias_id). Returns the
    rewritten (entity_id, memory_id) refs."""
    m = merges.select(
        F.col("canonical_id").alias("_canon"), F.col("alias_id").alias("_alias")
    )
    rewritten = entity_refs.join(
        m, entity_refs.entity_id == m._alias, "left"
    ).select(
        F.coalesce(F.col("_canon"), F.col("entity_id")).alias("entity_id"),
        "memory_id",
    )
    return rewritten.distinct()


def entity_identity_lookup(entities: DataFrame, slugs: list[str]) -> DataFrame:
    """J10 (recall.py:2454-2491): match up to 10 slugs against entities on
    `slug OR slug IN aliases`, merged_into IS NULL."""
    slugs = slugs[:10]
    slug_arr = F.array(*[F.lit(s) for s in slugs])
    return entities.filter(
        F.col("merged_into").isNull()
        & (
            F.col("slug").isin(*slugs)
            | F.arrays_overlap(F.coalesce(F.col("aliases"), F.array()), slug_arr)
        )
    ).select("id", "slug", "category")


def entity_ref_counts(entities: DataFrame, entity_refs: DataFrame) -> DataFrame:
    """A13 (automem/api/entity.py:196-247): per-entity reference counts,
    merged entities excluded, ordered count DESC."""
    counts = entity_refs.groupBy("entity_id").agg(F.count("*").alias("n_refs"))
    return (
        entities.filter(F.col("merged_into").isNull())
        .join(counts, entities.id == counts.entity_id, "left")
        .select(
            "id", "slug", "category",
            F.coalesce(F.col("n_refs"), F.lit(0)).alias("n_refs"),
        )
    )


def entity_expand(
    seeds: DataFrame,
    memories: DataFrame,
    *,
    query_tokens: list[str],
    now: str,
    limit_per_entity: int = 5,
    max_entities: int = 5,
    total_limit: int = 25,
    boost: float = 0.15,
) -> DataFrame:
    """J3 entity expansion (automem/api/recall.py:1337-1495): extract
    `entity:people:*` tags from seed results, run a per-entity tag-prefix
    scroll (R6 ordering: importance DESC), score with the full hybrid blend
    as match_type='entity_expansion' and add the +0.15 entity boost.

    Documented divergences from the reference (both for determinism):
    - the reference iterates `list(set(entities))` (hash order); we sort
      slugs before the ≤max_entities cut;
    - the reference accumulates seen_ids sequentially across entities, so
      with memories matching several entities the first iterated entity
      claims the row; we dedup by (id → lowest slug), identical whenever a
      memory carries at most one entity tag (true of our fixtures).

    Scale: `seeds` is a request's bounded result set, read once to the
    driver (no job when it is already a local frame): the ≤max_entities
    slugs and the seed ids enter the plan as literals, so the corpus is
    scanned once with no join. The per-entity top-k runs on the optimizer's
    map-side partial group limit (≤ parts × entities × k rows cross the one
    shuffle); the per-id dedup and the total cap then run on that bounded
    set in one task.
    """
    from pyspark.sql import Window

    from automem_spark.functions.scoring import hybrid_score_sql_spark
    from automem_spark.functions.text import in_list_expr, sql_string_literal
    from automem_spark.plans.checkpoint import collect_bounded

    prefix = "entity:people:"
    seed_rows = collect_bounded(seeds.select("id", "tags"))
    slugs = sorted(
        {
            t.split(":")[-1]
            for r in seed_rows
            for t in (r["tags"] or [])
            if t is not None and t.startswith(prefix)
        }
    )[:max_entities]
    seed_ids = [r["id"] for r in seed_rows if r["id"] is not None]
    pool = memories if not seed_ids else memories.filter(
        F.col("id").isNull() | ~in_list_expr("id", seed_ids)
    )
    if not slugs:
        pool = pool.filter(F.lit(False))  # pruned to an empty relation
    # one row per (memory, matching slug); slugs are caller data, so they
    # enter the SQL text as escaped literals
    slug_arr = "array(" + ", ".join(sql_string_literal(x) for x in slugs) + ")"
    matched = F.expr(
        f"filter(CAST({slug_arr} AS ARRAY<STRING>), slug -> exists(`tags`,"
        f" t -> startswith(t, concat({sql_string_literal(prefix)}, slug))))"
    )
    cand = pool.withColumn("slug", F.explode(matched))
    w_ent = Window.partitionBy("slug").orderBy(F.desc("importance"), F.asc("id"))
    w_id = Window.partitionBy("id").orderBy(F.asc("slug"))
    cand = (
        cand.withColumn("_r", F.row_number().over(w_ent))
        .filter(F.col("_r") <= limit_per_entity)
        .coalesce(1)
        .withColumn("_rid", F.row_number().over(w_id))
        .filter(F.col("_rid") == 1)
        .drop("_r", "_rid")
    )
    scored = cand.withColumn(
        "final_score",
        F.expr(
            hybrid_score_sql_spark(
                tokens=query_tokens,
                now=now,
                match_type="'entity_expansion'",
                match_score="CAST(0.0 AS DOUBLE)",
            )
        )
        + F.lit(boost),
    )
    return (
        scored.select(
            "id", F.col("slug").alias("entity"), "final_score", "importance"
        )
        .orderBy(F.desc("final_score"), F.asc("id"))
        .limit(total_limit)
    )
