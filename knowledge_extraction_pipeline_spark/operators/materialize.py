"""Stage 4 — MATERIALIZE: canonical nodes + typed edges tables.

Replaces the reference's NetworkX build + Neo4j import
(core/graph_builder.py:89-134, mcp/neo4j_tools.py:65-189) with two Parquet
tables. All aggregates are skew-hardened:

  * the co-occurrence pair count — the reference's O(n²) nested loop
    (mcp/graph_tools.py:203-231) — is an equi-self-join done upstream
    (stage 1 emits within-turn pairs), and the per-pair count here is a
    SALTED two-phase aggregate: hot entity pairs (Zipf head × Zipf head)
    first combine within 16 salt shards, then across shards;
  * every unbounded collect (aliases, definitions, evidence, sources) is
    capped with a window row_number BEFORE aggregation, so no single group
    can OOM an executor (the reference's own caps: definitions ≤10
    entity_resolver.py:497, evidence sample ≤5 graph_tools.py:230).

Semantics kept byte-compatible with the reference's deterministic path:
  strength   = |common| / min(|chunks_a|, |chunks_b|)   (graph_tools.py:220-222)
  confidence = min(1, |common| / 10)                    (graph_tools.py:228)
  edge kept iff |common| >= 2                           (graph_tools.py:158)
  pair orientation = global first-occurrence order      (graph_tools.py:205-217,
      entity insertion order = first concept occurrence)
  edge type = category-pair rule table, direct then reverse, else RELATED_TO
      (scripts/type_relationships.py:107-128)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import (
    CATEGORIES,
    CATEGORY_RELATIONSHIPS,
    CONFIDENCE_SATURATION,
    DEFAULT_RELATIONSHIP_TYPE,
    DEFINITIONS_CAP,
    EVIDENCE_SAMPLE,
    MIN_COOCCURRENCES,
)
from ..functions.lexicon import apply_alias

N_SALT = 16


def alias_assignments(mentions: DataFrame) -> DataFrame:
    """The reference's exact+alias canonicalization as a pure expression:
    exact phase = identity on norm_term (graph_tools.py:32-91), alias phase =
    the known-alias map (graph_tools.py:94-152). This is the canonicalization
    the EMITTED TRIPLES use — the reference never fuzzy-merges, so edge parity
    requires edges at this level; the LSH+CC fuzzy canonicalization feeds the
    richer nodes table instead."""
    return (
        mentions.select("norm_term").distinct()
        .withColumn("canon", apply_alias(F.col("norm_term")))
    )


def canonical_mentions(mentions: DataFrame, assignments: DataFrame) -> DataFrame:
    """Attach the canonical id to every mention. assignments is vocabulary-
    sized; Spark broadcasts it when small, AQE handles the rest."""
    return mentions.join(assignments, on="norm_term", how="left").withColumn(
        "canon", F.coalesce("canon", "norm_term")
    ).withColumn(
        "occ", F.struct("conv_id", "turn_idx", "start")
    )


def entity_chunk_counts(mentions_c: DataFrame) -> DataFrame:
    """|distinct chunks| per canonical entity — two-phase (distinct on the
    full key, then count) so hot entities never funnel into one task."""
    return (
        mentions_c.select("canon", "conv_id", "turn_idx").distinct()
        .groupBy("canon").count().withColumnRenamed("count", "n_chunks")
    )


def representative_norms(mentions_c: DataFrame) -> DataFrame:
    """Per canonical group, the member norm_term whose first occurrence is
    earliest — the reference's group[0] entity. known_alias_resolution
    (graph_tools.py:137-149) keeps ONLY that member's evidence list when
    merging, so the reference's co-occurrence stage sees only the first
    member's chunk set; we reproduce that exactly for edge parity."""
    by_norm = mentions_c.groupBy("canon", "norm_term").agg(F.min("occ").alias("first_occ"))
    return by_norm.groupBy("canon").agg(
        F.min_by("norm_term", "first_occ").alias("rep_norm"))


def entity_profile(mentions_c: DataFrame) -> DataFrame:
    """Per-canonical first-occurrence key + first-occurrence category (the
    reference's base_concept semantics: first concept in group order,
    graph_tools.py:58-63)."""
    return mentions_c.groupBy("canon").agg(
        F.min("occ").alias("first_occ"),
        F.min_by("category", "occ").alias("category"),
        F.min_by("importance", "occ").alias("importance"),
    )


def _salted_topk(df: DataFrame, key: str, sort_cols: list[str],
                 payload: list[str], k: int, out: str) -> DataFrame:
    """Smallest-k rows per key by sort_cols, as a sorted array column `out` of
    struct(*sort_cols, *payload) — TWO-PHASE with a salt shard so a Zipf-hot
    key never lands its whole group in one task (a plain
    Window.partitionBy(key) sort would; this was the measured scaling
    bottleneck of the materialize stage)."""
    item = F.struct(*[F.col(c) for c in sort_cols], *[F.col(c) for c in payload])
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(*sort_cols, *payload), F.lit(N_SALT)))
    partial = salted.groupBy(key, "_salt").agg(
        F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("_part"))
    return partial.groupBy(key).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_part"))), 1, k).alias(out))


def build_nodes(mentions_c: DataFrame,
                mentions_c_quotes: DataFrame | None = None) -> DataFrame:
    """Entity merge aggregate (reference entity_resolver.py:449-504).

    Every per-entity cap (canonical casing, definitions ≤10, evidence ≤5,
    sources ≤20) is a salted two-phase aggregate, never a window sort over
    the raw mentions — hot entities (Zipf head) would serialize a window.

    mentions_c may be a slim projection (no quote column); the two
    quote-consuming aggregates (definitions, evidence) read from
    mentions_c_quotes (defaults to mentions_c). Splitting them lets callers
    hand the eight quote-free aggregation branches a narrow table — with an
    RDD-checkpointed handoff every branch otherwise deserializes the fat
    quote strings it never uses.

    This is the first phase: the mentions reduced to the small canon-keyed
    tables node_rollup consumes."""
    if mentions_c_quotes is None:
        mentions_c_quotes = mentions_c
    # groupBy(canon, term) first: output cardinality = surface variants per
    # entity (small), so the follow-up name window is over tiny groups. The
    # same pass also partial-aggregates confidence/category/count, so the
    # confidence rollup is a second-phase aggregate over this tiny table.
    by_term = mentions_c.groupBy("canon", "term").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("occ").alias("first_occ"),
        F.sum("confidence").alias("_conf_sum"),
        # non-null count, so the rollup's sum/count keeps F.avg's
        # ignore-null semantics for callers with missing confidences
        F.count("confidence").alias("_conf_n"),
        F.min_by("category", "occ").alias("_first_cat"),
    )
    # distinct quotes first (full-key shuffle, skew-free), then salted top-k
    by_quote = mentions_c_quotes.groupBy("canon", "quote").agg(
        F.min("occ").alias("first_occ"))
    # ONE shuffle over (canon, category, importance) — both dimensions are
    # bounded (7 × 4), so the combined key stays tiny
    by_ci = mentions_c.groupBy("canon", "category", "importance").count()
    ev = _salted_topk(mentions_c_quotes, "canon", ["occ"],
                      ["conv_id", "turn_idx", "quote"], EVIDENCE_SAMPLE, "_ev")
    by_src = mentions_c.groupBy("canon", "conv_id").agg(F.min("occ").alias("first_occ"))
    return node_rollup(by_term, by_quote, by_ci, ev, by_src)


def node_rollup(by_term: DataFrame, by_quote: DataFrame, by_ci: DataFrame,
                ev: DataFrame, by_src: DataFrame) -> DataFrame:
    """Second phase of the node build: canon-level names, definitions,
    category/importance modes, evidence, sources and the confidence rollup,
    joined into one row per canonical entity. Inputs, all keyed by canon:

      by_term  (canon, term, cnt, first_occ, _conf_sum, _conf_n, _first_cat)
      by_quote (canon, quote, first_occ)
      by_ci    (canon, category, importance, count)
      ev       (canon, _ev: earliest EVIDENCE_SAMPLE
                struct(occ, conv_id, turn_idx, quote), sorted)
      by_src   (canon, conv_id, first_occ)

    build_nodes derives them from mentions; plans/ivm from its norm_term
    summaries."""
    by_term = by_term.persist()  # tiny; read by names AND conf
    # canonical_term: modal original casing, ties → earliest occurrence
    # (entity_resolver.py:462-465 uses the most common surface form)
    w_term = Window.partitionBy("canon").orderBy(
        F.desc("cnt"), F.asc("first_occ"), F.asc("term")
    )
    ranked_terms = by_term.withColumn("rn", F.row_number().over(w_term)).filter(
        F.col("rn") <= 21
    )
    names = ranked_terms.groupBy("canon").agg(
        F.min_by("term", "rn").alias("canonical_term"),
        F.array_sort(F.collect_list(
            F.when(F.col("rn") > 1, F.col("term")))).alias("aliases"),
    )

    # definitions: distinct quotes, first DEFINITIONS_CAP by occurrence
    defs = _salted_topk(by_quote, "canon", ["first_occ"], ["quote"],
                        DEFINITIONS_CAP, "_defs").select(
        "canon", F.transform(F.col("_defs"), lambda x: x["quote"]).alias("definitions"))

    # category / importance histograms → mode
    by_ci = by_ci.persist()  # tiny (≤ |canon|·28 rows), reused twice
    by_cat = by_ci.groupBy("canon", "category").agg(F.sum("count").alias("count"))
    w_cat = Window.partitionBy("canon").orderBy(F.desc("count"), "category")
    cats = by_cat.withColumn("rn", F.row_number().over(w_cat)).groupBy("canon").agg(
        F.min_by("category", "rn").alias("primary_category"),
        F.map_from_entries(F.collect_list(F.struct("category", "count"))).alias("categories"),
    )
    by_imp = by_ci.groupBy("canon", "importance").agg(F.sum("count").alias("count"))
    w_imp = Window.partitionBy("canon").orderBy(F.desc("count"), "importance")
    imps = by_imp.withColumn("rn", F.row_number().over(w_imp)).groupBy("canon").agg(
        F.min_by("importance", "rn").alias("primary_importance"),
    )

    # evidence sample (<= EVIDENCE_SAMPLE earliest mentions) + sources (<=20)
    ev = ev.select(
        "canon",
        F.transform(F.col("_ev"), lambda x: F.struct(
            x["conv_id"].alias("conv_id"),
            x["turn_idx"].alias("turn_idx"),
            x["quote"].alias("quote"))).alias("evidence"))
    srcs = _salted_topk(by_src, "canon", ["first_occ"], ["conv_id"], 20,
                        "_srcs").select(
        "canon", F.transform(F.col("_srcs"), lambda x: x["conv_id"]).alias("sources"))

    # profile + confidence + counts: second-phase rollup of by_term — the
    # term whose first_occ is the global minimum contains the globally
    # earliest mention, so its _first_cat is the reference's base category
    conf = by_term.groupBy("canon").agg(
        F.round(F.sum("_conf_sum") / F.sum("_conf_n"), 6)
        .alias("avg_confidence"),
        F.sum("cnt").alias("mention_count"),
        F.min("first_occ").alias("first_occ"),
        F.min_by("_first_cat", "first_occ").alias("category"),
    )

    return (
        names.join(defs, "canon").join(cats, "canon").join(imps, "canon")
        .join(ev, "canon").join(srcs, "canon").join(conf, "canon")
        .select(
            F.xxhash64("canon").alias("canonical_id"),
            F.col("canon"),
            "canonical_term", "aliases", "definitions",
            "primary_category", "primary_importance", "categories",
            F.col("category").alias("first_category"),
            "avg_confidence", "mention_count", "evidence", "sources", "first_occ",
        )
    )


def typing_table(spark: SparkSession, categories: list[str] | None = None) -> DataFrame:
    """Full (cat_subj, cat_obj) → pred table with the reference's
    direct-then-reverse-else-default lookup pre-resolved, broadcastable."""
    cats = sorted(set(categories or CATEGORIES)
                  | {c for k in CATEGORY_RELATIONSHIPS for c in k})
    rows = []
    for a in cats:
        for b in cats:
            pred = CATEGORY_RELATIONSHIPS.get(
                (a, b), CATEGORY_RELATIONSHIPS.get((b, a), DEFAULT_RELATIONSHIP_TYPE))
            rows.append((a, b, pred))
    return spark.createDataFrame(rows, "cat_subj string, cat_obj string, pred string")


def build_edges(
    triples_raw: DataFrame,
    mentions_c: DataFrame,
    min_cooccurrences: int = MIN_COOCCURRENCES,
) -> DataFrame:
    """Canonical co-occurrence edges with salted aggregation and
    first-occurrence orientation. Output columns:
    (subj, pred='CO_OCCURS', obj, common, strength, confidence, evidence).

    A canonical entity's chunk set is its first-occurring member norm's
    chunks, byte-matching the reference's alias-merge behavior
    (graph_tools.py:137-149 copies group[0] and never merges the evidence
    lists)."""
    # vocabulary-sized; materialized so the four consumers below don't
    # each rescan the mentions table
    rep = representative_norms(mentions_c).persist()
    rep_map = rep.select(F.col("rep_norm").alias("norm_term"), "canon")
    mentions_used = mentions_c.drop("canon").join(rep_map, "norm_term")
    a_map = rep_map.select(F.col("norm_term").alias("subj"), F.col("canon").alias("ca"))
    b_map = rep_map.select(F.col("norm_term").alias("obj"), F.col("canon").alias("cb"))
    # inner joins: pairs whose endpoint norms are not group representatives
    # are dropped, exactly like the reference's lost evidence lists.
    mapped = triples_raw.join(a_map, "subj").join(b_map, "obj")
    pairs = (
        mapped
        .filter(F.col("ca") != F.col("cb"))
        .select(
            F.least("ca", "cb").alias("a"),
            F.greatest("ca", "cb").alias("b"),
            "conv_id", "turn_idx",
        )
        .distinct()  # one (pair, chunk) row — full-key shuffle, skew-free
    )
    salted = pairs.withColumn(
        "salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(N_SALT))
    )
    partial = salted.groupBy("a", "b", "salt").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.slice(F.array_sort(F.collect_list(F.struct("conv_id", "turn_idx"))),
                1, EVIDENCE_SAMPLE).alias("ev"),
    )
    agg = partial.groupBy("a", "b").agg(
        F.sum("cnt").alias("common"),
        F.slice(F.array_sort(F.flatten(F.collect_list("ev"))),
                1, EVIDENCE_SAMPLE).alias("evidence"),
    ).filter(F.col("common") >= min_cooccurrences)

    # entity-level (small) aggregates, each consumed twice below —
    # materialize once instead of recomputing per join branch
    counts = entity_chunk_counts(mentions_used).persist()
    prof = entity_profile(mentions_c).select("canon", "first_occ", "category") \
        .persist()

    agg = (
        agg
        .join(counts.select(F.col("canon").alias("a"), F.col("n_chunks").alias("n_a")), "a")
        .join(counts.select(F.col("canon").alias("b"), F.col("n_chunks").alias("n_b")), "b")
        .join(prof.select(F.col("canon").alias("a"), F.col("first_occ").alias("occ_a"),
                          F.col("category").alias("cat_a")), "a")
        .join(prof.select(F.col("canon").alias("b"), F.col("first_occ").alias("occ_b"),
                          F.col("category").alias("cat_b")), "b")
    )
    first_is_a = F.col("occ_a") <= F.col("occ_b")
    return agg.select(
        F.when(first_is_a, F.col("a")).otherwise(F.col("b")).alias("subj"),
        F.lit("CO_OCCURS").alias("pred"),
        F.when(first_is_a, F.col("b")).otherwise(F.col("a")).alias("obj"),
        F.when(first_is_a, F.col("cat_a")).otherwise(F.col("cat_b")).alias("cat_subj"),
        F.when(first_is_a, F.col("cat_b")).otherwise(F.col("cat_a")).alias("cat_obj"),
        F.col("common"),
        F.round(F.col("common") / F.least("n_a", "n_b"), 6).alias("strength"),
        F.round(F.least(F.lit(1.0), F.col("common") / CONFIDENCE_SATURATION), 6)
        .alias("confidence"),
        "evidence",
    )


def type_edges(edges: DataFrame, typing: DataFrame) -> DataFrame:
    """Upgrade CO_OCCURS to semantic types via a broadcast join against the
    pre-resolved category-pair table."""
    return (
        edges.drop("pred")
        .join(F.broadcast(typing), on=["cat_subj", "cat_obj"], how="left")
        .withColumn("pred", F.coalesce("pred", F.lit(DEFAULT_RELATIONSHIP_TYPE)))
        .select("subj", "pred", "obj", "common", "strength", "confidence", "evidence")
    )


def materialize_stage(
    spark: SparkSession,
    mentions: DataFrame,
    triples_raw: DataFrame,
    assignments: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """nodes from the FULL canonicalization (stage-3 CC over alias + LSH
    candidates → variant aliases folded into one node), edges from the
    reference-faithful exact+alias canonicalization (emitted-triple parity —
    the reference's deterministic path never fuzzy-merges). Edge endpoints
    (subj/obj) are alias-canonical normalized terms, exactly like the
    reference's relationship source/target (graph_tools.py:223-231); join
    edges→nodes through `assignments` (norm_term → canon) when graph-level
    consistency is needed."""
    # slim projection cached once (columnar, prunable): the eight quote-free
    # aggregation branches read this instead of recomputing the explode or
    # dragging quote strings through every shuffle
    slim = mentions.drop("quote").persist()

    mc_nodes = canonical_mentions(slim, assignments)
    # the quote-carrying projection feeds the two quote aggregates
    # (definitions distinct + evidence top-k); it is recomputed rather than
    # cached — on an idle machine the cache write costs more than the
    # recompute of one cheap explode+join
    mc_nodes_q = canonical_mentions(
        mentions.select("conv_id", "turn_idx", "norm_term", "start", "quote"),
        assignments)
    nodes = build_nodes(mc_nodes, mc_nodes_q)

    # exact+alias canonicalization for the edge path — derived from the
    # vocabulary already in `assignments`, NOT another scan of mentions
    edge_asn = assignments.select("norm_term").withColumn(
        "canon", apply_alias(F.col("norm_term")))
    mc_edges = canonical_mentions(slim, edge_asn)
    edges = type_edges(build_edges(triples_raw, mc_edges), typing_table(spark))
    return nodes, edges
