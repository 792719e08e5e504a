"""Summary-level incremental view maintenance (IVM) for the node aggregates —
the step beyond append_transcripts: instead of re-aggregating ALL mentions on
every delta, persist five entity-granular SUMMARY tables and fold each delta
in with sum/min merges. The summaries are keyed by `norm_term` (the
PRE-canonicalization key), so a later delta that changes the connected
components — two entities merging when a bridging alias arrives — only
changes the cheap finalize step, never the stored state.

Why this is exact (each summary is a semigroup under merge):
  s_term  (norm_term, term)                → cnt:+  first_occ:min  conf:+  first_cat:argmin(occ)
  s_quote (norm_term, quote)               → first_occ:min
  s_ci    (norm_term, category, importance)→ cnt:+
  s_src   (norm_term, conv_id)             → first_occ:min
  s_ev    (norm_term)                      → top-k earliest mentions: merge =
            sort(flatten)·slice k — exact because the global top-k is a
            subset of the union of per-part top-ks.
and the finalize's canon-level aggregates consume exactly these statistics
(build_nodes's own phase-1 tables are the canon-keyed image of them), so

  finalize_nodes(node_summaries(M), A) ≡ build_nodes(canonical_mentions(M, A))

row-for-row — pinned by tests/test_pipeline_resume.py::test_ivm_*. The
summaries order occurrences by struct(conv_id, turn_idx, start), not by
materialize_stage's packed BIGINT key: that key's conversation ordinal is
a rank over the whole conv_id set, so a delta would renumber stored state
(node_rollup takes either form). State
size is vocabulary × surface-variant granular (quotes/evidence capped or
naturally bounded), orders of magnitude below the mention stream; merges are
narrow co-partitioned aggregates.

EDGES are deliberately NOT summarized at pair granularity: the reference's
first_member evidence scope gates which raw triples count by a GLOBAL
argmin (the group representative, materialize.entity_profile), so
pair-level counts are not a semigroup — a delta can change the
representative and retroactively re-gate history. The exact mergeable unit
for edges is the deduped (pair, chunk) set, i.e. the triples_raw
checkpoint, which plans/pipeline.append_transcripts already reuses
(union-mergeable by construction; equality pinned by
test_append_equals_full).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.materialize import EVIDENCE_SAMPLE, _salted_topk, node_rollup
from ..session import sql


@dataclass
class NodeSummaries:
    term: DataFrame    # norm_term, term, cnt, first_occ, conf_sum, conf_n, first_cat
    quote: DataFrame   # norm_term, quote, first_occ
    ci: DataFrame      # norm_term, category, importance, cnt
    src: DataFrame     # norm_term, conv_id, first_occ
    ev: DataFrame      # norm_term, items: array<struct<occ, conv_id, turn_idx, quote>>


_OCC = F.struct("conv_id", "turn_idx", "start")


def node_summaries(mentions: DataFrame,
                   mentions_quotes: DataFrame | None = None) -> NodeSummaries:
    """Phase-1 statistics keyed by norm_term. `mentions` may be the slim
    (quote-free) projection; the two quote consumers read mentions_quotes."""
    if mentions_quotes is None:
        mentions_quotes = mentions
    m = mentions.withColumn("occ", _OCC)
    mq = mentions_quotes.withColumn("occ", _OCC)

    term = m.groupBy("norm_term", "term").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("occ").alias("first_occ"),
        F.sum("confidence").alias("conf_sum"),
        F.count("confidence").alias("conf_n"),
        F.min_by("category", "occ").alias("first_cat"),
    )
    quote = mq.groupBy("norm_term", "quote").agg(
        F.min("occ").alias("first_occ"))
    ci = m.groupBy("norm_term", "category", "importance").agg(
        F.count(F.lit(1)).alias("cnt"))
    src = m.groupBy("norm_term", "conv_id").agg(
        F.min("occ").alias("first_occ"))
    # field order of the item struct matches build_nodes's _salted_topk item
    # (sort_cols then payload) so array_sort ranks identically
    ev = sql(_salted_topk("{mq}", "norm_term", ["occ"],
                          ["conv_id", "turn_idx", "quote"], EVIDENCE_SAMPLE, "items"),
             mq=mq)
    return NodeSummaries(term=term, quote=quote, ci=ci, src=src, ev=ev)


def merge_summaries(a: NodeSummaries, b: NodeSummaries) -> NodeSummaries:
    """Fold two summary states (e.g. yesterday's state and today's delta).
    Every column merges with its semigroup op — no raw mentions touched."""
    term = a.term.unionByName(b.term).groupBy("norm_term", "term").agg(
        F.sum("cnt").alias("cnt"),
        F.min("first_occ").alias("first_occ"),
        F.sum("conf_sum").alias("conf_sum"),
        F.sum("conf_n").alias("conf_n"),
        F.min_by("first_cat", "first_occ").alias("first_cat"),
    )
    quote = a.quote.unionByName(b.quote).groupBy("norm_term", "quote").agg(
        F.min("first_occ").alias("first_occ"))
    ci = a.ci.unionByName(b.ci) \
        .groupBy("norm_term", "category", "importance") \
        .agg(F.sum("cnt").alias("cnt"))
    src = a.src.unionByName(b.src).groupBy("norm_term", "conv_id").agg(
        F.min("first_occ").alias("first_occ"))
    ev = a.ev.unionByName(b.ev).groupBy("norm_term").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("items"))), 1,
                EVIDENCE_SAMPLE).alias("items"))
    return NodeSummaries(term=term, quote=quote, ci=ci, src=src, ev=ev)


def _canon(df: DataFrame, assignments: DataFrame) -> DataFrame:
    return df.join(assignments, on="norm_term", how="left").withColumn(
        "canon", F.coalesce("canon", "norm_term"))


def finalize_nodes(s: NodeSummaries, assignments: DataFrame) -> DataFrame:
    """Re-aggregate the summaries by canon, then run build_nodes's own
    second phase (materialize.node_rollup) on them. Output schema and
    values are row-identical to build_nodes."""
    # each is the canon image of a summary (exact: sum/min/argmin/top-k
    # re-aggregate)
    by_term = _canon(s.term, assignments).groupBy("canon", "term").agg(
        F.sum("cnt").alias("cnt"),
        F.min("first_occ").alias("first_occ"),
        F.sum("conf_sum").alias("_conf_sum"),
        F.sum("conf_n").alias("_conf_n"),
        F.min_by("first_cat", "first_occ").alias("_first_cat"),
    )
    by_quote = _canon(s.quote, assignments).groupBy("canon", "quote").agg(
        F.min("first_occ").alias("first_occ"))
    by_ci = _canon(s.ci, assignments) \
        .groupBy("canon", "category", "importance") \
        .agg(F.sum("cnt").alias("count"))
    ev = _canon(s.ev, assignments).groupBy("canon").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("items"))), 1,
                EVIDENCE_SAMPLE).alias("_ev"))
    by_src = _canon(s.src, assignments).groupBy("canon", "conv_id").agg(
        F.min("first_occ").alias("first_occ"))
    return node_rollup(by_term, by_quote, by_ci, ev, by_src)
