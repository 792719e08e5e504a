"""Stage 2/3: linking candidates + connected components."""

from pyspark.sql import functions as F

from knowledge_extraction_pipeline_spark.operators.canonicalize import (
    canonicalize_stage,
    connected_components,
)
from knowledge_extraction_pipeline_spark.operators.extract import extract_stage
from knowledge_extraction_pipeline_spark.operators.link import (
    alias_edges,
    distinct_terms,
    link_stage,
    minhash_candidate_edges,
)


def _py_components(edges):
    """Independent union-find cross-check (plain Python)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}


import pytest


@pytest.mark.parametrize("driver_threshold", [0, 10**6],
                         ids=["distributed-star-loop", "driver-union-find"])
def test_cc_matches_union_find(spark, driver_threshold):
    edges = [
        ("b", "a"), ("c", "b"), ("d", "c"),          # chain → all 'a'
        ("x", "y"), ("y", "z"),                      # chain → 'x'
        ("m", "n"),                                  # pair
        ("q", "q"),                                  # self loop, dropped
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["norm_term"]: r["canon"] for r in
           connected_components(df, driver_threshold=driver_threshold).collect()}
    want = _py_components(edges)
    want = {k: v for k, v in want.items() if k != "q"}
    assert got == want


@pytest.mark.parametrize("driver_threshold", [0, 10**6],
                         ids=["distributed-star-loop", "driver-union-find"])
def test_cc_large_component(spark, driver_threshold):
    # star + long chain mixed, 200 nodes
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(100)]
    edges += [("hub", f"s{i:02d}") for i in range(50)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["norm_term"]: r["canon"] for r in
           connected_components(df, driver_threshold=driver_threshold).collect()}
    assert {got[f"n{i:03d}"] for i in range(101)} == {"n000"}
    assert {got[f"s{i:02d}"] for i in range(50)} == {"hub"}


def test_cc_fails_loudly_when_max_iter_runs_out(spark):
    """A 101-node chain needs more than two star rounds: with max_iter=2 the
    distributed loop must raise instead of returning an unconverged
    canonicalization; with the default max_iter it finds the one root."""
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(100)]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge within max_iter=2"):
        connected_components(df, max_iter=2, driver_threshold=0)
    got = connected_components(df, driver_threshold=0)
    assert {r["canon"] for r in got.collect()} == {"n000"}


def test_alias_edges(spark, transcripts):
    m = extract_stage(transcripts, engine="pandas")[0]
    ae = alias_edges(distinct_terms(m)).collect()
    pairs = {(r["src"], r["dst"]) for r in ae}
    # abbreviations appear in the generated data and map to their canonicals
    from knowledge_extraction_pipeline_spark.config import KNOWN_ALIASES
    assert pairs, "no alias edges found in generated data"
    assert all(KNOWN_ALIASES.get(s) == d for s, d in pairs)
    for s, d in pairs:
        assert s != d


def test_fuzzy_phases_catch_planted_variants(spark):
    """resolver_norm catches hyphen variants, charsort catches transposition
    typos, and the combined fuzzy phases connect every planted variant to its
    base without cross-base merges."""
    from knowledge_extraction_pipeline_spark.functions.lexicon import (
        base_terms,
        hyphen_variant,
        typo_variant,
    )
    from knowledge_extraction_pipeline_spark.operators.canonicalize import (
        connected_components,
    )
    from knowledge_extraction_pipeline_spark.operators.link import (
        charsort_edges,
        resolver_norm_edges,
    )

    bases = [b for b, _, _ in base_terms() if " " in b][:40]
    terms = bases + [hyphen_variant(b) for b in bases] + [typo_variant(b) for b in bases]
    df = spark.createDataFrame([(t,) for t in set(terms)], "norm_term string")

    edges = resolver_norm_edges(df) \
        .unionByName(charsort_edges(df)) \
        .unionByName(minhash_candidate_edges(df))
    comp = {r["norm_term"]: r["canon"]
            for r in connected_components(edges.select("src", "dst")).collect()}
    for b in bases:
        got = {comp.get(t, t) for t in (b, hyphen_variant(b), typo_variant(b))}
        assert len(got) == 1, f"variants of {b!r} not fully merged: {got}"
    # distinct base terms never share a component
    roots = [comp.get(b, b) for b in bases]
    assert len(set(roots)) == len(bases)


def test_minhash_no_cross_base_merges(spark):
    """The word-aligned verifier rejects two-word terms that share a word
    ('gradient regularization' vs 'latent regularization')."""
    from knowledge_extraction_pipeline_spark.functions.lexicon import base_terms

    bases = [b for b, _, _ in base_terms()]
    df = spark.createDataFrame([(t,) for t in bases], "norm_term string")
    got = minhash_candidate_edges(df).collect()
    assert got == [], f"unexpected merges between distinct terms: {got[:5]}"


def test_lsh_candidates_are_the_band_sharing_pairs_once(spark):
    """With a maximal ambiguous band, the fuzzy phase emits every pair of
    terms that share a band hash exactly once, labelled by the verifier,
    also through a hot bucket: 300 case and whitespace variants of one term
    share its shingle set, so with their base they collide in every band.
    The oracle reads each term's band hashes once and pairs the terms on
    the driver."""
    from collections import defaultdict
    from itertools import combinations

    from knowledge_extraction_pipeline_spark.config import (
        LSH_NUM_BANDS,
        LSH_NUM_HASHES,
        LSH_SHINGLE_SIZE,
    )
    from knowledge_extraction_pipeline_spark.functions.lexicon import base_terms
    from knowledge_extraction_pipeline_spark.functions.text import (
        char_shingles_sql,
        lsh_bands_sql,
        minhash_sql,
        normalize_term_resolver,
    )
    from knowledge_extraction_pipeline_spark.operators.link import (
        _word_aligned_similar,
    )

    hot = "stochastic gradient descent"
    letters = [i for i, c in enumerate(hot) if c != " "]

    def variant(n: int) -> str:
        up = {letters[k] for k in range(len(letters)) if n >> k & 1}
        v = "".join(c.upper() if i in up else c for i, c in enumerate(hot))
        return [v, f" {v} ", v.replace(" ", "  ")][n % 3]

    words = {hot, *(variant(n) for n in range(1, 301)),
             *(b for b, _, _ in base_terms()[:200])}
    terms = spark.createDataFrame([(t,) for t in words], "norm_term string")

    rows = minhash_candidate_edges(terms, ambiguous_band=(0.0, 1.01)) \
        .select("src", "dst", "phase").collect()
    got = {tuple(r) for r in rows}
    assert len(got) == len(rows), "a candidate pair was emitted twice"

    shingles = f"array_distinct({char_shingles_sql('norm_term', LSH_SHINGLE_SIZE)})"
    banded = terms.selectExpr(
        "norm_term", f"{minhash_sql(shingles, LSH_NUM_HASHES)} AS sig").selectExpr(
        "norm_term", f"{lsh_bands_sql('sig', LSH_NUM_HASHES, LSH_NUM_BANDS)} AS bands")
    buckets = defaultdict(list)
    for r in banded.collect():
        for band in enumerate(r["bands"]):
            buckets[band].append(r["norm_term"])
    pairs = {tuple(sorted(p)) for members in buckets.values()
             for p in combinations(members, 2)}
    assert len(pairs) > 300 * 299 // 2
    labelled = spark.createDataFrame(sorted(pairs), "src string, dst string") \
        .withColumn("ok", _word_aligned_similar(normalize_term_resolver(F.col("src")),
                                                normalize_term_resolver(F.col("dst"))))
    want = {(r["src"], r["dst"], "fuzzy" if r["ok"] else "ambiguous")
            for r in labelled.collect()}
    assert got == want


def test_canonicalize_isolated_terms_self_map(spark, transcripts):
    m = extract_stage(transcripts, engine="pandas")[0]
    terms = distinct_terms(m)
    asn = canonicalize_stage(terms, link_stage(m))
    assert asn.count() == terms.count()
    assert asn.filter(F.col("canon").isNull()).count() == 0


def test_ambiguous_band_surfaced_not_merged(spark):
    """The reference's LLM decision band (0.85 <= sim < 0.90,
    entity_resolver.py:219-279) reconstructed as a knob: candidates in the
    band that FAIL the deterministic verifier are surfaced with
    phase='ambiguous' for a caller-side adjudicator — and canonicalize_stage
    must never merge on them."""
    from knowledge_extraction_pipeline_spark.operators.canonicalize import (
        canonicalize_stage,
    )
    from knowledge_extraction_pipeline_spark.operators.link import (
        minhash_candidate_edges,
    )

    terms = spark.createDataFrame(
        [("gradient regularization",), ("gradient regularizatio",),
         ("stochastic descent",)],
        "norm_term string")

    default = minhash_candidate_edges(terms).collect()
    assert all(r["phase"] == "fuzzy" for r in default)

    banded = minhash_candidate_edges(terms, ambiguous_band=(0.0, 1.01))
    rows = banded.collect()
    phases = {r["phase"] for r in rows}
    # the typo pair verifies (fuzzy); with a maximal band every candidate
    # either verifies or is surfaced — none silently dropped
    assert "fuzzy" in phases
    fuzzy_pairs = {(r["src"], r["dst"]) for r in rows if r["phase"] == "fuzzy"}
    assert ("gradient regularizatio", "gradient regularization") in \
        {tuple(sorted(p)) for p in fuzzy_pairs} or \
        ("gradient regularization", "gradient regularizatio") in fuzzy_pairs

    # ambiguous edges never merge: inject one and canonicalize
    amb = spark.createDataFrame(
        [("stochastic descent", "gradient regularization", 0.87, "ambiguous")],
        "src string, dst string, sim double, phase string")
    asn = canonicalize_stage(terms, amb)
    got = {r["norm_term"]: r["canon"] for r in asn.collect()}
    assert got["stochastic descent"] == "stochastic descent"
    assert got["gradient regularization"] == "gradient regularization"


def test_canonicalize_null_phase_edges_still_merge(spark):
    """Edges with a NULL phase are decided edges (only the explicit
    'ambiguous' tag is held back) — they must reach CC and merge."""
    from knowledge_extraction_pipeline_spark.operators.canonicalize import (
        canonicalize_stage,
    )
    terms = spark.createDataFrame([("aa",), ("bb",)], "norm_term string")
    edges = spark.createDataFrame(
        [("bb", "aa", 1.0, None)],
        "src string, dst string, sim double, phase string")
    got = {r["norm_term"]: r["canon"]
           for r in canonicalize_stage(terms, edges).collect()}
    assert got == {"aa": "aa", "bb": "aa"}
