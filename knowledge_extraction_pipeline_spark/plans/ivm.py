"""Summary-level incremental view maintenance (IVM) for the node aggregates —
the step beyond append_transcripts: instead of re-aggregating ALL mentions on
every delta, persist five entity-granular SUMMARY tables and fold each delta
in with sum/min merges. The summaries are keyed by `norm_term` (the
PRE-canonicalization key), so a later delta that changes the connected
components — two entities merging when a bridging alias arrives — only
changes the cheap finalize step, never the stored state.

The summaries are build_nodes's own node statistics
(materialize._NODE_PHASE1), keyed by norm_term instead of canon. Each is a semigroup
under the merge set of the same statistics (materialize._NODE_MERGE):

  term  (norm_term, term)                → cnt:+  first_occ:min  conf:+  first_cat:argmin(occ)
  quote (norm_term, quote)               → first_occ:min
  ci    (norm_term, category, importance)→ cnt:+
  src   (norm_term, conv_id)             → first_occ:min
  ev    (norm_term)                      → top-k earliest mentions: merge =
            sort(flatten)·slice k — exact because the global top-k is a
            subset of the union of per-part top-ks.

merge_summaries applies that merge keyed by norm_term; finalize_nodes
applies it keyed by canon and runs build_nodes's second phase
(materialize._NODE_ROLLUP) in the same statement, so

  finalize_nodes(node_summaries(M), A) ≡ build_nodes(canonical_mentions(M, A))

row-for-row — pinned by tests/test_pipeline_resume.py::test_ivm_*. The
summaries order occurrences by struct(conv_id, turn_idx, start), not by
materialize_stage's packed BIGINT key: that key's conversation ordinal is
a rank over the whole conv_id set, so a delta would renumber stored state.
State size is vocabulary × surface-variant granular (quotes/evidence
capped or naturally bounded), orders of magnitude below the mention
stream; merges are narrow co-partitioned aggregates.

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

from ..operators.materialize import _NODE_MERGE, _NODE_PHASE1, _NODE_ROLLUP, _ctes
from ..session import sql


@dataclass
class NodeSummaries:
    term: DataFrame    # norm_term, term, cnt, first_occ, conf_sum, conf_n, first_cat
    quote: DataFrame   # norm_term, quote, first_occ
    ci: DataFrame      # norm_term, category, importance, cnt
    src: DataFrame     # norm_term, conv_id, first_occ
    ev: DataFrame      # norm_term, items: array<struct<occ, conv_id, turn_idx, quote>>


# summary → the node statistic it holds
_STATISTIC = {"term": "by_term", "quote": "by_quote", "ci": "by_ci", "src": "by_src",
              "ev": "ev"}


def node_summaries(mentions: DataFrame) -> NodeSummaries:
    """The node statistics of `mentions`, keyed by norm_term."""
    m = sql("SELECT *, struct(conv_id, turn_idx, start) AS occ FROM {m}", m=mentions)
    return NodeSummaries(**{
        name: sql(_NODE_PHASE1[stat], key="norm_term", mc=m, mq=m)
        for name, stat in _STATISTIC.items()})


def merge_summaries(a: NodeSummaries, b: NodeSummaries) -> NodeSummaries:
    """Fold two summary states (e.g. yesterday's state and today's delta).
    Every column merges with its semigroup op — no raw mentions touched."""
    return NodeSummaries(**{
        name: sql(_NODE_MERGE[stat], key="norm_term",
                  **{stat: getattr(a, name).unionByName(getattr(b, name))})
        for name, stat in _STATISTIC.items()})


def finalize_nodes(s: NodeSummaries, assignments: DataFrame) -> DataFrame:
    """One statement: the summaries re-keyed by canon, merged by canon
    (the canon image of each statistic), then build_nodes's second phase.
    Output schema and values are row-identical to build_nodes."""
    canon = {f"canon_{stat}": f"SELECT s.*, coalesce(a.canon, s.norm_term) AS canon "
                              f"FROM {{s_{t}}} s LEFT JOIN {{asn}} a ON s.norm_term = a.norm_term"
             for t, stat in _STATISTIC.items()}
    return sql(
        "WITH " + _ctes(canon) + ",\n" + _ctes(_NODE_MERGE) + _NODE_ROLLUP,
        key="canon", asn=assignments,
        **{stat: f"canon_{stat}" for stat in _STATISTIC.values()},
        **{f"s_{t}": getattr(s, t) for t in _STATISTIC})
