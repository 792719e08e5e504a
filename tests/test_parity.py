"""Reference parity (BASELINE.json metric: triple P/R >= 0.95).

Frozen oracle, always run: ref_fixture.NODES/EDGES are the reference
implementation's own output on the generated 200-conversation corpus
(scripts/gen_ref_fixture.py). Live oracle: the reference's deterministic
operators run in-process on the test corpus (tests/ref_oracle.py); those
tests skip when the reference checkout is absent."""

import pytest

from knowledge_extraction_pipeline_spark import ref_fixture
from knowledge_extraction_pipeline_spark.functions.lexicon import (
    apply_alias_py,
    normalize_term_py,
)
from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline
from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
    generate_transcripts,
)

from . import ref_oracle

live = pytest.mark.skipif(
    not ref_oracle.AVAILABLE,
    reason=f"live reference oracle unavailable: {ref_oracle.REF} not found")


def T(term: str) -> str:
    return apply_alias_py(normalize_term_py(term))


def _spark_triples(spark, transcripts, enable_fuzzy: bool):
    edges = run_pipeline(spark, transcripts, enable_fuzzy=enable_fuzzy).edges
    out = {}
    for r in edges.collect():
        # edge endpoints are already alias-canonical normalized terms — the
        # same key space as T(oracle canonical_term)
        out[(r["subj"], r["pred"], r["obj"])] = (r["common"], r["strength"], r["confidence"])
    return out


def _oracle_triples(rows):
    _, rels = ref_oracle.oracle_graph(rows)
    out = {}
    for r in rels:
        key = (T(r["source"]), r["type"], T(r["target"]))
        out[key] = (None, r["strength"], r["confidence"])
    return out


def _pr(ours, oracle) -> tuple[float, float]:
    inter = set(ours) & set(oracle)
    p = len(inter) / max(1, len(ours))
    r = len(inter) / max(1, len(oracle))
    return p, r


def test_pipeline_matches_reference_fixture(spark):
    """No fuzzy stage: nodes and edges equal the reference-computed fixture
    row for row. Fuzzy stage on: triple P/R >= 0.95 against it."""
    t = generate_transcripts(spark, ref_fixture.N_CONVS)
    exact = run_pipeline(spark, t, enable_fuzzy=False)
    # CC roots alias groups at the lexicographic min, the reference at the
    # alias target — compare in the reference's key space
    nodes = sorted(
        (apply_alias_py(r["canon"]), r["first_category"], r["mention_count"])
        for r in exact.nodes.select("canon", "first_category", "mention_count").collect())
    assert nodes == sorted(ref_fixture.NODES)
    edges = sorted(tuple(r) for r in exact.edges.select(
        "subj", "pred", "obj", "common", "strength", "confidence").collect())
    assert edges == sorted(ref_fixture.EDGES)

    ours = {(r["subj"], r["pred"], r["obj"]) for r in run_pipeline(spark, t).edges.collect()}
    p, r = _pr(ours, {e[:3] for e in ref_fixture.EDGES})
    print(f"\nfuzzy vs fixture: ours={len(ours)} fixture={len(ref_fixture.EDGES)} "
          f"P={p:.4f} R={r:.4f}")
    assert p >= 0.95 and r >= 0.95


@pytest.fixture(scope="module")
def oracle(transcripts):
    rows = transcripts.select("conv_id", "turn_idx", "text").collect()
    return _oracle_triples(rows)


@live
def test_parity_strict_no_fuzzy(spark, transcripts, oracle):
    """With the fuzzy stage off, our pipeline IS the reference's deterministic
    path — expect near-exact triple parity."""
    ours = _spark_triples(spark, transcripts, enable_fuzzy=False)
    p, r = _pr(ours, oracle)
    print(f"\nno-fuzzy: ours={len(ours)} oracle={len(oracle)} P={p:.4f} R={r:.4f}")
    assert p >= 0.99 and r >= 0.99
    # value parity on the intersection: strength/confidence byte-formulas
    for k in set(ours) & set(oracle):
        _, s_ours, c_ours = ours[k]
        _, s_orc, c_orc = oracle[k]
        assert abs(s_ours - s_orc) < 1e-4, k
        assert abs(c_ours - c_orc) < 1e-4, k


@live
def test_parity_with_fuzzy(spark, transcripts, oracle):
    """Full pipeline (LSH fuzzy linking on) must stay within the 0.95 band:
    typo/hyphen merges improve the graph but diverge from the reference's
    exact-only path by construction."""
    ours = _spark_triples(spark, transcripts, enable_fuzzy=True)
    p, r = _pr(ours, oracle)
    print(f"\nfuzzy: ours={len(ours)} oracle={len(oracle)} P={p:.4f} R={r:.4f}")
    assert p >= 0.95 and r >= 0.95


@live
def test_node_parity(spark, transcripts):
    """Entity groups (exact+alias only) match the reference's resolution."""
    rows = transcripts.select("conv_id", "turn_idx", "text").collect()
    concepts = ref_oracle.concepts_from_rows(rows)
    entities, _ = ref_oracle.graph_tools.exact_string_resolution(concepts)
    entities = ref_oracle.graph_tools.known_alias_resolution(entities)
    want_groups = {T(e.get("canonical_term") or e.get("term")) for e in entities}

    asn = run_pipeline(spark, transcripts, enable_fuzzy=False).assignments
    got_groups = {T(r["canon"]) for r in asn.select("canon").distinct().collect()}
    assert got_groups == want_groups
