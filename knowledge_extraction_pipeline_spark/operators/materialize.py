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

Every "first"/"earliest" above orders mentions by their occurrence
(conv_id, turn_idx, start). materialize_stage packs that triple into ONE
order-preserving BIGINT `occ` (conversation ordinal | turn_idx | start), so
the min/min_by aggregates keep fixed-width buffers and the top-k sorts
compare longs, not structs of strings; nodes.first_occ is unpacked back to
the struct on output. The operators below take either form of `occ`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
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
from ..functions.lexicon import apply_alias, literal_map

N_SALT = 16

# bit widths of the packed occurrence key; together 63 bits, so the key is
# a non-negative BIGINT whose order is the (conv_id, turn_idx, start) order
CONV_BITS, TURN_BITS, START_BITS = 27, 16, 20


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


def conv_ordinals(mentions: DataFrame) -> DataFrame:
    """(conv_id, _ord): the dense rank, from 0, of the distinct conv_ids —
    the conversation field of the packed occurrence key. Conversation-sized:
    one shuffle for the distinct, then one single-partition sort, and
    broadcast to its consumers."""
    return mentions.select("conv_id").distinct().coalesce(1).select(
        "conv_id",
        (F.row_number().over(Window.orderBy("conv_id")) - 1).cast("long").alias("_ord"))


def with_occ_key(df: DataFrame, ordinals: DataFrame,
                 fields: tuple[tuple[str, int], ...] = (
                     ("turn_idx", TURN_BITS), ("start", START_BITS))) -> DataFrame:
    """df plus `occ`: the conversation ordinal of its conv_id packed with
    `fields` into one BIGINT that orders like struct(conv_id, *fields). A
    field that is null, negative or wider than its bits fails the query
    instead of silently reordering occurrences."""
    key, ok = "_ord", f"_ord < {1 << CONV_BITS}"
    for name, bits in fields:
        key = f"shiftleft({key}, {bits}) | CAST({name} AS BIGINT)"
        ok += f" AND {name} BETWEEN 0 AND {(1 << bits) - 1}"
    names = ", ".join(["_ord"] + [n for n, _ in fields])
    widths = ", ".join([f"conv={CONV_BITS}"] + [f"{n}={b}" for n, b in fields])
    occ = F.expr(f"CASE WHEN {ok} THEN {key} ELSE raise_error(concat("
                 f"'occurrence key field out of range (bits {widths}): ', "
                 f"to_json(struct({names})))) END")
    return (df.join(F.broadcast(ordinals), "conv_id", "left")
            .select(*df.columns, occ.alias("occ")))


def occ_struct(nodes: DataFrame, mentions: DataFrame) -> DataFrame:
    """nodes with the packed `first_occ` unpacked to struct(conv_id,
    turn_idx, start), typed as in `mentions`. `sources` lists a node's
    conversations by first occurrence, so sources[0] is the conversation of
    first_occ — no lookup of the ordinal needed."""
    types = dict(mentions.dtypes)
    occ = F.expr(
        f"struct(sources[0] AS conv_id, "
        f"CAST(shiftright(first_occ, {START_BITS}) & {(1 << TURN_BITS) - 1}"
        f" AS {types['turn_idx']}) AS turn_idx, "
        f"CAST(first_occ & {(1 << START_BITS) - 1} AS {types['start']}) AS start)")
    return nodes.withColumn("first_occ", occ)


def canonical_mentions(mentions: DataFrame, assignments: DataFrame) -> DataFrame:
    """Attach the canonical id to every mention. assignments is vocabulary-
    sized; Spark broadcasts it when small, AQE handles the rest. Mentions
    without an `occ` key get struct(conv_id, turn_idx, start)."""
    mc = mentions.join(assignments, on="norm_term", how="left").withColumn(
        "canon", F.coalesce("canon", "norm_term"))
    if "occ" in mentions.columns:
        return mc
    return mc.withColumn("occ", F.struct("conv_id", "turn_idx", "start"))


def entity_profile(mentions_c: DataFrame) -> DataFrame:
    """Per canonical entity, from its earliest occurrence: rep_norm, the
    member norm_term that occurs first — the reference's group[0] entity —
    plus first_occ and that mention's category (the reference's
    base_concept semantics: first concept in group order,
    graph_tools.py:58-63), and n_chunks, the number of distinct chunks
    rep_norm occurs in. known_alias_resolution (graph_tools.py:137-149)
    keeps ONLY group[0]'s evidence list when merging, so the reference's
    co-occurrence stage sees only the first member's chunk set; edges
    reproduce that exactly for parity.

    Two phases, per (canon, norm_term) then per canon; the distinct chunk
    count is itself two-phase (distinct on the full key, then count), so
    hot entities never funnel into one task."""
    by_norm = mentions_c.groupBy("canon", "norm_term").agg(
        F.min("occ").alias("first_occ"),
        F.min_by("category", "occ").alias("category"),
        F.count_distinct("conv_id", "turn_idx").alias("n_chunks"))
    return by_norm.groupBy("canon").agg(
        F.min_by("norm_term", "first_occ").alias("rep_norm"),
        F.min("first_occ").alias("first_occ"),
        F.min_by("category", "first_occ").alias("category"),
        F.min_by("n_chunks", "first_occ").alias("n_chunks"))


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
    # same pass also partial-aggregates confidence/category/count for the
    # canon-level rollup that rides on that window.
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
    joined into one row per canonical entity. `first_occ` (and ev's `occ`)
    may be the packed BIGINT key or struct(conv_id, turn_idx, start); only
    their order is used. Inputs, all keyed by canon:

      by_term  (canon, term, cnt, first_occ, _conf_sum, _conf_n, _first_cat)
      by_quote (canon, quote, first_occ)
      by_ci    (canon, category, importance, count)
      ev       (canon, _ev: earliest EVIDENCE_SAMPLE
                struct(occ, conv_id, turn_idx, quote), sorted)
      by_src   (canon, conv_id, first_occ)

    build_nodes derives them from mentions; plans/ivm from its norm_term
    summaries."""
    # canonical_term: modal original casing, ties → earliest occurrence
    # (entity_resolver.py:462-465 uses the most common surface form). The
    # profile, confidence and count rollup rides on the same canon
    # partitioning as whole-canon window aggregates — the term whose
    # first_occ is the global minimum contains the globally earliest
    # mention, so its _first_cat is the reference's base category
    w_term = Window.partitionBy("canon").orderBy(
        F.desc("cnt"), F.asc("first_occ"), F.asc("term")
    )
    w_canon = Window.partitionBy("canon")
    ranked_terms = by_term.select(
        "canon", "term",
        F.row_number().over(w_term).alias("rn"),
        F.sum("_conf_sum").over(w_canon).alias("_conf_sum"),
        F.sum("_conf_n").over(w_canon).alias("_conf_n"),
        F.sum("cnt").over(w_canon).alias("mention_count"),
        F.min("first_occ").over(w_canon).alias("first_occ"),
        F.min_by("_first_cat", "first_occ").over(w_canon).alias("category"),
    ).filter(F.col("rn") <= 21)
    names = ranked_terms.groupBy("canon").agg(
        F.min_by("term", "rn").alias("canonical_term"),
        F.array_sort(F.collect_list(
            F.when(F.col("rn") > 1, F.col("term")))).alias("aliases"),
        # constant per canon: max() just carries them through
        F.round(F.max("_conf_sum") / F.max("_conf_n"), 6).alias("avg_confidence"),
        F.max("mention_count").alias("mention_count"),
        F.max("first_occ").alias("first_occ"),
        F.max("category").alias("category"),
    )

    # definitions: distinct quotes, first DEFINITIONS_CAP by occurrence
    defs = _salted_topk(by_quote, "canon", ["first_occ"], ["quote"],
                        DEFINITIONS_CAP, "_defs").select(
        "canon", F.transform(F.col("_defs"), lambda x: x["quote"]).alias("definitions"))

    # category / importance histograms → modes (count desc, then value).
    # by_ci holds at most |categories|·|importance levels| rows per canon,
    # so one bounded collect per canon feeds both histograms
    def hist(field: str) -> Column:
        """array<struct(n = -count, field)> of _ci summed by field, sorted."""
        return F.expr(
            f"array_sort(transform(array_distinct(transform(_ci, x -> x.{field})),"
            f" v -> struct(-aggregate(filter(_ci, x -> x.{field} <=> v), 0L,"
            f" (acc, x) -> acc + x.count) AS n, v AS {field})))")
    cis = by_ci.groupBy("canon").agg(F.collect_list(
        F.struct("category", "importance", "count")).alias("_ci")).select(
        "canon", hist("category").alias("_cats"), hist("importance").alias("_imps"))
    cis = cis.select(
        "canon",
        F.col("_cats")[0]["category"].alias("primary_category"),
        F.col("_imps")[0]["importance"].alias("primary_importance"),
        F.map_from_entries(F.transform(F.col("_cats"), lambda c: F.struct(
            c["category"], -c["n"]))).alias("categories"),
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

    # every part is already hash-partitioned by canon by its last
    # aggregate, so sort-merge joins need no shuffle and no broadcast job
    return (
        names.join(defs.hint("merge"), "canon").join(cis.hint("merge"), "canon")
        .join(ev.hint("merge"), "canon").join(srcs.hint("merge"), "canon")
        .select(
            F.xxhash64("canon").alias("canonical_id"),
            F.col("canon"),
            "canonical_term", "aliases", "definitions",
            "primary_category", "primary_importance", "categories",
            F.col("category").alias("first_category"),
            "avg_confidence", "mention_count", "evidence", "sources", "first_occ",
        )
    )


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
    lists).

    Pair evidence is the earliest EVIDENCE_SAMPLE chunks by the triples'
    `occ` (a packed (conv_id, turn_idx) key), else by
    struct(conv_id, turn_idx)."""
    if "occ" not in triples_raw.columns:
        triples_raw = triples_raw.withColumn("occ", F.struct("conv_id", "turn_idx"))
    # vocabulary-sized; materialized once, eagerly, so the four joins below
    # neither rescan the mentions nor each rebuild it
    prof = entity_profile(mentions_c).persist()
    prof.count()
    rep_map = prof.select(F.col("rep_norm").alias("norm_term"), "canon")
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
            "occ", "conv_id", "turn_idx",
        )
        .distinct()  # one (pair, chunk) row — full-key shuffle, skew-free
    )
    salted = pairs.withColumn(
        "salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(N_SALT))
    )
    partial = salted.groupBy("a", "b", "salt").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.slice(F.array_sort(F.collect_list(F.struct("occ", "conv_id", "turn_idx"))),
                1, EVIDENCE_SAMPLE).alias("ev"),
    )
    agg = partial.groupBy("a", "b").agg(
        F.sum("cnt").alias("common"),
        F.transform(
            F.slice(F.array_sort(F.flatten(F.collect_list("ev"))), 1, EVIDENCE_SAMPLE),
            lambda x: F.struct(x["conv_id"].alias("conv_id"),
                               x["turn_idx"].alias("turn_idx"))).alias("evidence"),
    ).filter(F.col("common") >= min_cooccurrences)

    def side(x: str) -> DataFrame:
        return prof.select(F.col("canon").alias(x), F.col("n_chunks").alias(f"n_{x}"),
                           F.col("first_occ").alias(f"occ_{x}"),
                           F.col("category").alias(f"cat_{x}"))

    agg = agg.join(side("a"), "a").join(side("b"), "b")
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


def type_edges(edges: DataFrame) -> DataFrame:
    """Upgrade CO_OCCURS to semantic types: the category-pair rule table
    with its direct-then-reverse-else-default lookup pre-resolved into one
    map literal keyed by "cat_subj|cat_obj" — a lookup, no join."""
    cats = sorted(set(CATEGORIES) | {c for k in CATEGORY_RELATIONSHIPS for c in k})
    rules = {f"{a}|{b}": t for a in cats for b in cats
             if (t := CATEGORY_RELATIONSHIPS.get((a, b), CATEGORY_RELATIONSHIPS.get((b, a))))}
    pred = literal_map(rules)[F.concat_ws("|", "cat_subj", "cat_obj")]
    return edges.select(
        "subj", F.coalesce(pred, F.lit(DEFAULT_RELATIONSHIP_TYPE)).alias("pred"),
        "obj", "common", "strength", "confidence", "evidence")


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
    consistency is needed. `spark` is unused; it stays for the stage
    functions' common call shape."""
    # every mention is ordered by its packed occurrence key (module
    # docstring). The tables shared by several branches are materialized
    # here, eagerly: a lazy cache that stages of the nodes and edges plans
    # reach at once is built once per reading job, not once. Counting slim
    # builds the ordinals too, as its only reader so far.
    ordinals = conv_ordinals(mentions).persist()
    # slim projection cached once (columnar, prunable): the quote-free
    # aggregation branches read this instead of recomputing the explode or
    # dragging quote strings through every shuffle; `start` lives on in occ
    slim = with_occ_key(mentions.drop("quote"), ordinals).drop("start").persist()
    slim.count()

    mc_nodes = canonical_mentions(slim, assignments)
    # the quote-carrying projection feeds the two quote aggregates
    # (definitions distinct + evidence top-k); it is recomputed rather than
    # cached — on an idle machine the cache write costs more than the
    # recompute of one cheap explode+join
    mc_nodes_q = canonical_mentions(with_occ_key(
        mentions.select("conv_id", "turn_idx", "norm_term", "start", "quote"),
        ordinals), assignments)
    nodes = occ_struct(build_nodes(mc_nodes, mc_nodes_q), mentions)

    # exact+alias canonicalization for the edge path — derived from the
    # vocabulary already in `assignments`, NOT another scan of mentions
    edge_asn = assignments.select("norm_term").withColumn(
        "canon", apply_alias(F.col("norm_term")))
    mc_edges = canonical_mentions(slim, edge_asn)
    triples = with_occ_key(triples_raw, ordinals, (("turn_idx", TURN_BITS),))
    edges = type_edges(build_edges(triples, mc_edges))
    return nodes, edges
