"""Adversarial hot-key skew: the salted aggregates must stay CORRECT under a
pathological entity that co-occurs in thousands of chunks (the scenario the
reference never hits — SURVEY §4 'the hard 20%')."""

from pyspark.sql import functions as F

from knowledge_extraction_pipeline_spark.operators.link import distinct_terms
from knowledge_extraction_pipeline_spark.operators.materialize import (
    alias_assignments,
    build_edges,
    build_nodes,
    canonical_mentions,
)


def _hot_world(spark, n_chunks=3000):
    """One ultra-hot entity co-occurring with 'rare' in 10 chunks and with
    'common' in every chunk; mentions table + triples built directly."""
    rows = []
    for i in range(n_chunks):
        conv = f"c{i:05d}"
        rows.append((conv, 0, "HOT", "hot", "method", "high", 0, "q", 1.0))
        rows.append((conv, 0, "Common", "common", "concept", "low", 5, "q", 1.0))
        if i < 10:
            rows.append((conv, 0, "Rare", "rare", "theory", "low", 9, "q", 1.0))
    m = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, term string, norm_term string, "
              "category string, importance string, start int, quote string, "
              "confidence double")
    t = []
    for i in range(n_chunks):
        conv = f"c{i:05d}"
        t.append(("common", "CO_OCCURS", "hot", conv, 0))
        if i < 10:
            t.append(("hot", "CO_OCCURS", "rare", conv, 0))
            t.append(("common", "CO_OCCURS", "rare", conv, 0))
    tr = spark.createDataFrame(
        t, "subj string, pred string, obj string, conv_id string, turn_idx int")
    return m, tr


def test_salted_pair_counts_exact_under_skew(spark):
    m, tr = _hot_world(spark)
    asn = alias_assignments(distinct_terms(m))
    mc = canonical_mentions(m, asn)
    edges = {(r["subj"], r["obj"]): r for r in
             build_edges(tr, mc).collect()}
    # counts are exact despite the hot key funneling through 16 salt shards
    hc = edges[("hot", "common")] if ("hot", "common") in edges else edges[("common", "hot")]
    assert hc["common"] == 3000
    assert abs(hc["strength"] - 1.0) < 1e-9      # 3000/min(3000,3000)
    assert abs(hc["confidence"] - 1.0) < 1e-9    # saturated
    hr = edges[("hot", "rare")] if ("hot", "rare") in edges else edges[("rare", "hot")]
    assert hr["common"] == 10
    assert abs(hr["strength"] - 1.0) < 1e-9      # 10/min(3000,10)
    assert abs(hr["confidence"] - 1.0) < 1e-9    # min(1, 10/10)
    assert all(len(r["evidence"]) <= 5 for r in edges.values())


def test_salted_node_caps_under_skew(spark):
    m, _ = _hot_world(spark)
    asn = alias_assignments(distinct_terms(m))
    nodes = {r["canon"]: r for r in build_nodes(canonical_mentions(m, asn)).collect()}
    hot = nodes["hot"]
    assert hot["mention_count"] == 3000
    assert len(hot["evidence"]) == 5
    assert len(hot["sources"]) == 20
    # evidence is the 5 EARLIEST occurrences, deterministically
    assert [e["conv_id"] for e in hot["evidence"]] == [f"c{i:05d}" for i in range(5)]
