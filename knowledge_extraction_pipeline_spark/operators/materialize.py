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
the struct on output. The node statistics and the operators below take
either form of `occ`; plans/ivm orders its stored summaries by the struct,
because the packed key's conversation ordinal changes as conversations
arrive.

Each table's plan is ONE SQL statement over DataFrame parameters
(session.sql: `sql(TEXT, name=df)`), its text kept in a module constant or a small
template: the JVM parses and analyzes it in one call. Built from Column and
DataFrame calls, the same plans took ~3,600 py4j round trips per run, and
every DataFrame call re-analyzed the growing plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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
from ..functions.lexicon import apply_alias_sql, literal_map_sql
from ..session import sql

N_SALT = 16

# bit widths of the packed occurrence key; together 63 bits, so the key is
# a non-negative BIGINT whose order is the (conv_id, turn_idx, start) order
CONV_BITS, TURN_BITS, START_BITS = 27, 16, 20


def alias_assignments(terms: DataFrame) -> DataFrame:
    """The reference's exact+alias canonicalization as a pure expression
    over a relation of distinct norm_terms (the vocabulary, or any
    assignments table):
    exact phase = identity on norm_term (graph_tools.py:32-91), alias phase =
    the known-alias map (graph_tools.py:94-152). This is the canonicalization
    the EMITTED TRIPLES use — the reference never fuzzy-merges, so edge parity
    requires edges at this level; the LSH+CC fuzzy canonicalization feeds the
    richer nodes table instead."""
    return sql(
        f"SELECT norm_term, {apply_alias_sql('norm_term')} AS canon FROM {{t}}",
        t=terms)


def conv_ordinals(mentions: DataFrame) -> DataFrame:
    """(conv_id, _ord): the dense rank, from 0, of the distinct conv_ids —
    the conversation field of the packed occurrence key. Conversation-sized:
    one shuffle for the distinct, then one single-partition sort, and
    broadcast to its consumers."""
    return sql(
        "SELECT conv_id, CAST(row_number() OVER (ORDER BY conv_id) - 1 AS BIGINT) AS _ord "
        "FROM (SELECT /*+ COALESCE(1) */ DISTINCT conv_id FROM {m})", m=mentions)


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
    return sql(
        f"SELECT /*+ BROADCAST(o) */ d.*, CASE WHEN {ok} THEN {key} ELSE raise_error("
        f"concat('occurrence key field out of range (bits {widths}): ', "
        f"to_json(struct({names})))) END AS occ "
        "FROM {df} d LEFT JOIN {ordinals} o USING (conv_id)", df=df, ordinals=ordinals)


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
    occ = "" if "occ" in mentions.columns else ", struct(conv_id, turn_idx, start) AS occ"
    return sql(
        f"SELECT m.*, coalesce(a.canon, m.norm_term) AS canon{occ} "
        "FROM {m} m LEFT JOIN {a} a ON m.norm_term = a.norm_term",
        m=mentions, a=assignments)


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
    return sql("""
SELECT canon, min_by(norm_term, first_occ) AS rep_norm, min(first_occ) AS first_occ,
       min_by(category, first_occ) AS category, min_by(n_chunks, first_occ) AS n_chunks
FROM (SELECT canon, norm_term, min(occ) AS first_occ, min_by(category, occ) AS category,
             count(DISTINCT conv_id, turn_idx) AS n_chunks
      FROM {mc} GROUP BY canon, norm_term)
GROUP BY canon""", mc=mentions_c)


def _salted_topk(src: str, key: str, sort_cols: list[str],
                 payload: list[str], k: int, out: str) -> str:
    """SQL text: the smallest-k rows per key of relation `src` by sort_cols,
    as a sorted array column `out` of struct(*sort_cols, *payload) —
    TWO-PHASE with a salt shard so a Zipf-hot key never lands its whole
    group in one task (a plain window partitioned by key would; this was
    the measured scaling bottleneck of the materialize stage)."""
    cols = ", ".join([*sort_cols, *payload])
    return (f"SELECT {key}, slice(array_sort(flatten(collect_list(_part))), 1, {k}) AS {out} "
            f"FROM (SELECT {key}, _salt, slice(array_sort(collect_list(struct({cols}))), 1, {k})"
            f" AS _part FROM (SELECT *, pmod(xxhash64({cols}), {N_SALT}) AS _salt FROM {src})"
            f" GROUP BY {key}, _salt) GROUP BY {key}")


# The five node statistics, each one standalone SELECT keyed by `{key}`
# (canon in build_nodes and finalize_nodes, norm_term in plans/ivm's stored
# summaries), in two sets of the same columns:
#
#   by_term  ({key}, term, cnt, first_occ, conf_sum, conf_n, first_cat)
#   by_quote ({key}, quote, first_occ)
#   by_ci    ({key}, category, importance, cnt)
#   ev       ({key}, items: earliest EVIDENCE_SAMPLE
#             struct(occ, conv_id, turn_idx, quote), sorted)
#   by_src   ({key}, conv_id, first_occ)
#
# _NODE_PHASE1 computes them from mentions `{mc}` (quote-free) and `{mq}`
# (with quotes). groupBy(key, term) first: output cardinality = surface
# variants per entity (small), so the rollup's name window is over tiny
# groups; the same pass partial-aggregates confidence (the non-null count
# keeps avg's ignore-null semantics), category and count. Quotes are made
# distinct first (full-key shuffle, skew-free), then salted top-k.
# (key, category, importance) is ONE shuffle: both dimensions are bounded.
_NODE_PHASE1 = {
    "by_term": """
SELECT {key}, term, count(1) AS cnt, min(occ) AS first_occ, sum(confidence) AS conf_sum,
       count(confidence) AS conf_n, min_by(category, occ) AS first_cat
FROM {mc} GROUP BY {key}, term""",
    "by_quote": "SELECT {key}, quote, min(occ) AS first_occ FROM {mq} GROUP BY {key}, quote",
    "by_ci": """
SELECT {key}, category, importance, count(1) AS cnt
FROM {mc} GROUP BY {key}, category, importance""",
    # the item struct is (sort column, payload), so array_sort ranks by occ
    "ev": _salted_topk("{mq}", "{key}", ["occ"], ["conv_id", "turn_idx", "quote"],
                       EVIDENCE_SAMPLE, "items"),
    "by_src": "SELECT {key}, conv_id, min(occ) AS first_occ FROM {mc} GROUP BY {key}, conv_id",
}

# The same statistics merged from partial ones over relations named like
# the statistic (`{by_term}` …): each is a semigroup — sum, min, min_by the
# occurrence, and the top-k of the union of top-ks (sort(flatten)·slice).
_NODE_MERGE = {
    "by_term": """
SELECT {key}, term, sum(cnt) AS cnt, min(first_occ) AS first_occ, sum(conf_sum) AS conf_sum,
       sum(conf_n) AS conf_n, min_by(first_cat, first_occ) AS first_cat
FROM {by_term} GROUP BY {key}, term""",
    "by_quote": "SELECT {key}, quote, min(first_occ) AS first_occ FROM {by_quote} "
                "GROUP BY {key}, quote",
    "by_ci": """
SELECT {key}, category, importance, sum(cnt) AS cnt
FROM {by_ci} GROUP BY {key}, category, importance""",
    "ev": f"""
SELECT {{key}}, slice(array_sort(flatten(collect_list(items))), 1, {EVIDENCE_SAMPLE}) AS items
FROM {{ev}} GROUP BY {{key}}""",
    "by_src": "SELECT {key}, conv_id, min(first_occ) AS first_occ FROM {by_src} "
              "GROUP BY {key}, conv_id",
}


def _ctes(texts: dict[str, str]) -> str:
    """`name AS (text)` for each statement, comma-separated: the body of a
    WITH clause."""
    return ",\n".join(f"{name} AS ({text})" for name, text in texts.items())


def _hist(field: str) -> str:
    """array<struct(n = -count, field)> of _ci summed by field, sorted."""
    return (f"array_sort(transform(array_distinct(transform(_ci, x -> x.{field})),"
            f" v -> struct(-aggregate(filter(_ci, x -> x.{field} <=> v), 0L,"
            f" (acc, x) -> acc + x.cnt) AS n, v AS {field})))")


# The second phase of the node build, over the five statistics keyed by
# canon and bound to their names: one row per canonical entity.
# canonical_term: modal original casing, ties → earliest occurrence
# (entity_resolver.py:462-465 uses the most common surface form). The
# profile, confidence and count rollup rides on the same canon partitioning
# as whole-canon window aggregates — the term whose first_occ is the global
# minimum contains the globally earliest mention, so its first_cat is the
# reference's base category; max() over the ranked rows carries these
# per-canon constants through. Definitions are the first DEFINITIONS_CAP
# distinct quotes by occurrence; the category/importance modes (count desc,
# then value) come from one bounded collect of by_ci per canon, which holds
# at most |categories|·|importance levels| rows. Every part is already
# hash-partitioned by canon by its last aggregate, so the sort-merge joins
# need no shuffle and no broadcast job.
_NODE_ROLLUP = f""",
ranked AS (
  SELECT canon, term,
         row_number() OVER (PARTITION BY canon ORDER BY cnt DESC, first_occ, term) AS rn,
         sum(conf_sum) OVER w AS conf_sum, sum(conf_n) OVER w AS conf_n,
         sum(cnt) OVER w AS mention_count, min(first_occ) OVER w AS first_occ,
         min_by(first_cat, first_occ) OVER w AS category
  FROM by_term WINDOW w AS (PARTITION BY canon)),
names AS (
  SELECT canon, min_by(term, rn) AS canonical_term,
         array_sort(collect_list(CASE WHEN rn > 1 THEN term END)) AS aliases,
         round(max(conf_sum) / max(conf_n), 6) AS avg_confidence,
         max(mention_count) AS mention_count, max(first_occ) AS first_occ,
         max(category) AS category
  FROM ranked WHERE rn <= 21 GROUP BY canon),
defs AS (
  SELECT canon, transform(_defs, x -> x.quote) AS definitions
  FROM ({_salted_topk('by_quote', 'canon', ['first_occ'], ['quote'], DEFINITIONS_CAP, '_defs')})),
cis AS (
  SELECT canon, _cats[0].category AS primary_category,
         _imps[0].importance AS primary_importance,
         map_from_entries(transform(_cats, c -> struct(c.category, -c.n))) AS categories
  FROM (SELECT canon, {_hist('category')} AS _cats, {_hist('importance')} AS _imps
        FROM (SELECT canon, collect_list(struct(category, importance, cnt)) AS _ci
              FROM by_ci GROUP BY canon))),
evs AS (
  SELECT canon, transform(items, x -> struct(x.conv_id AS conv_id, x.turn_idx AS turn_idx,
                                             x.quote AS quote)) AS evidence
  FROM ev),
srcs AS (
  SELECT canon, transform(_srcs, x -> x.conv_id) AS sources
  FROM ({_salted_topk('by_src', 'canon', ['first_occ'], ['conv_id'], 20, '_srcs')}))
SELECT /*+ MERGE(defs, cis, evs, srcs) */
       xxhash64(canon) AS canonical_id, canon, canonical_term, aliases, definitions,
       primary_category, primary_importance, categories, category AS first_category,
       avg_confidence, mention_count, evidence, sources, first_occ
FROM names JOIN defs USING (canon) JOIN cis USING (canon) JOIN evs USING (canon)
     JOIN srcs USING (canon)"""


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

    One statement: the node statistics keyed by canon (_NODE_PHASE1) feed
    the second phase (_NODE_ROLLUP) directly."""
    return sql(
        "WITH " + _ctes(_NODE_PHASE1) + _NODE_ROLLUP, key="canon", mc=mentions_c,
        mq=mentions_c if mentions_c_quotes is None else mentions_c_quotes)


# Pair evidence is the earliest EVIDENCE_SAMPLE chunks by `occ`. Inner joins
# to the representatives: pairs whose endpoint norms are not group
# representatives are dropped, exactly like the reference's lost evidence
# lists. One (pair, chunk) row by a full-key distinct (skew-free), then the
# salted two-phase count; the orientation is the endpoints' first occurrence.
_BUILD_EDGES = f"""
WITH pairs AS (
  SELECT DISTINCT least(ca, cb) AS a, greatest(ca, cb) AS b, occ, conv_id, turn_idx
  FROM {{triples}}
       JOIN (SELECT rep_norm AS subj, canon AS ca FROM {{prof}}) USING (subj)
       JOIN (SELECT rep_norm AS obj, canon AS cb FROM {{prof}}) USING (obj)
  WHERE ca != cb),
partial AS (
  SELECT a, b, salt, count(1) AS cnt,
         slice(array_sort(collect_list(struct(occ, conv_id, turn_idx))), 1, {EVIDENCE_SAMPLE}) AS ev
  FROM (SELECT *, pmod(xxhash64(conv_id, turn_idx), {N_SALT}) AS salt FROM pairs)
  GROUP BY a, b, salt),
agg AS (
  SELECT a, b, sum(cnt) AS common,
         transform(slice(array_sort(flatten(collect_list(ev))), 1, {EVIDENCE_SAMPLE}),
                   x -> struct(x.conv_id AS conv_id, x.turn_idx AS turn_idx)) AS evidence
  FROM partial GROUP BY a, b HAVING common >= {{min_common}})
SELECT CASE WHEN occ_a <= occ_b THEN a ELSE b END AS subj, 'CO_OCCURS' AS pred,
       CASE WHEN occ_a <= occ_b THEN b ELSE a END AS obj,
       CASE WHEN occ_a <= occ_b THEN cat_a ELSE cat_b END AS cat_subj,
       CASE WHEN occ_a <= occ_b THEN cat_b ELSE cat_a END AS cat_obj,
       common, round(common / least(n_a, n_b), 6) AS strength,
       round(least(1.0D, common / {CONFIDENCE_SATURATION!r}D), 6) AS confidence, evidence
FROM agg
     JOIN (SELECT canon AS a, n_chunks AS n_a, first_occ AS occ_a, category AS cat_a
           FROM {{prof}}) USING (a)
     JOIN (SELECT canon AS b, n_chunks AS n_b, first_occ AS occ_b, category AS cat_b
           FROM {{prof}}) USING (b)"""


def build_edges(
    triples_raw: DataFrame,
    mentions_c: DataFrame,
    min_cooccurrences: int = MIN_COOCCURRENCES,
) -> DataFrame:
    """Canonical co-occurrence edges with salted aggregation and
    first-occurrence orientation. Output columns:
    (subj, pred='CO_OCCURS', obj, cat_subj, cat_obj, common, strength,
    confidence, evidence).

    A canonical entity's chunk set is its first-occurring member norm's
    chunks, byte-matching the reference's alias-merge behavior
    (graph_tools.py:137-149 copies group[0] and never merges the evidence
    lists).

    Pair evidence is ordered by the triples' `occ` (a packed (conv_id,
    turn_idx) key), else by struct(conv_id, turn_idx)."""
    if "occ" not in triples_raw.columns:
        triples_raw = sql("SELECT *, struct(conv_id, turn_idx) AS occ FROM {t}",
                          t=triples_raw)
    # vocabulary-sized; materialized once, eagerly, so the four joins
    # neither rescan the mentions nor each rebuild it
    prof = entity_profile(mentions_c).persist()
    prof.count()
    return sql(_BUILD_EDGES, triples=triples_raw, prof=prof,
               min_common=min_cooccurrences)


def type_edges(edges: DataFrame) -> DataFrame:
    """Upgrade CO_OCCURS to semantic types: the category-pair rule table
    with its direct-then-reverse-else-default lookup pre-resolved into one
    map literal keyed by "cat_subj|cat_obj" — a lookup, no join."""
    cats = sorted(set(CATEGORIES) | {c for k in CATEGORY_RELATIONSHIPS for c in k})
    rules = {f"{a}|{b}": t for a in cats for b in cats
             if (t := CATEGORY_RELATIONSHIPS.get((a, b), CATEGORY_RELATIONSHIPS.get((b, a))))}
    return sql(
        f"SELECT subj, coalesce({literal_map_sql(rules)}[concat_ws('|', cat_subj, cat_obj)], "
        f"'{DEFAULT_RELATIONSHIP_TYPE}') AS pred, obj, common, strength, confidence, evidence "
        "FROM {e}", e=edges)


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
    mc_edges = canonical_mentions(slim, alias_assignments(assignments))
    triples = with_occ_key(triples_raw, ordinals, (("turn_idx", TURN_BITS),))
    edges = type_edges(build_edges(triples, mc_edges))
    return nodes, edges
