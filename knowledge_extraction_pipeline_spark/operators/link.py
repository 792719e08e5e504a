"""Stage 2 — LINK: mentions → merge-candidate edges between normalized terms.

Three phases, mirroring the reference's resolution ladder but rebuilt for
distributed execution:

  1. exact    — same norm_term ⇒ same node. Implicit (norm_term IS the join
                key); the reference's O(n) hash pre-grouping
                (extraction/entity_resolver.py:343-370).
  2. alias    — known-abbreviation map, applied as a broadcast map expression
                (mcp/graph_tools.py:94-152). Emits (norm, alias_target) edges.
  3. fuzzy    — MinHash-LSH over character shingles of the DISTINCT terms,
                replacing the reference's O(n²) blocked cosine matrix
                (entity_resolver.py:396-436). Banding generates candidates;
                exact Jaccard verifies. Runs on |distinct terms|, not
                |mentions| — the blocking is what survives 100× scale-up.

Output: candidate edge list (src, dst, sim, phase) — input to stage 3 CC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import (
    LSH_JACCARD_THRESHOLD,
    LSH_NUM_BANDS,
    LSH_NUM_HASHES,
    LSH_SHINGLE_SIZE,
)
from ..functions.lexicon import apply_alias
from ..functions.text import (
    char_shingles,
    lsh_bands,
    minhash_signature,
    normalize_term_resolver,
)


def distinct_terms(mentions: DataFrame) -> DataFrame:
    """One row per normalized term. This is the vocabulary — orders of
    magnitude smaller than the mentions table; every fuzzy-phase cost is
    per-term, never per-mention."""
    return mentions.select("norm_term").distinct()


def alias_edges(terms: DataFrame) -> DataFrame:
    """(norm → canonical) edges from the known-alias table, as a broadcast
    map literal — a constant-folded expression, no join."""
    return (
        terms
        .withColumn("dst", apply_alias(F.col("norm_term")))
        .filter(F.col("dst") != F.col("norm_term"))
        .select(F.col("norm_term").alias("src"), "dst",
                F.lit(1.0).alias("sim"), F.lit("alias").alias("phase"))
    )


def resolver_norm_edges(terms: DataFrame) -> DataFrame:
    """Deterministic hyphen/underscore-variant linking: terms whose resolver
    normalization (fold '-'/'_' to space — entity_resolver.py:158-162) agrees
    are linked to the group's min member. Catches 100% of punctuation
    variants exactly; the MinHash stage then only has to catch typos."""
    from ..functions.text import normalize_term_resolver

    rn = terms.withColumn("rnorm", normalize_term_resolver(F.col("norm_term")))
    root = rn.groupBy("rnorm").agg(F.min("norm_term").alias("dst"),
                                   F.count(F.lit(1)).alias("n"))
    return (
        rn.join(root.filter(F.col("n") > 1), "rnorm")
        .filter(F.col("norm_term") != F.col("dst"))
        .select(F.col("norm_term").alias("src"), "dst",
                F.lit(1.0).alias("sim"), F.lit("resolver_norm").alias("phase"))
    )


def charsort_edges(terms: DataFrame) -> DataFrame:
    """Deterministic transposition-typo blocking: key = each word with its
    characters sorted ('decsent' and 'descent' → 'cdeenst'). Terms sharing
    the key have identical per-word character multisets — near-certain typo
    variants — and are linked to the block's min member. O(n) blocking, no
    pair enumeration."""
    chars = lambda w: F.filter(F.split(w, ""), lambda c: c != "")
    key = F.array_join(
        F.transform(F.split(F.col("norm_term"), " "),
                    lambda w: F.array_join(F.array_sort(chars(w)), "")),
        " ")
    keyed = terms.withColumn("ck", key)
    root = keyed.groupBy("ck").agg(F.min("norm_term").alias("dst"),
                                   F.count(F.lit(1)).alias("n"))
    return (
        keyed.join(root.filter(F.col("n") > 1), "ck")
        .filter(F.col("norm_term") != F.col("dst"))
        .select(F.col("norm_term").alias("src"), "dst",
                F.lit(1.0).alias("sim"), F.lit("charsort").alias("phase"))
    )


def _word_aligned_similar(a: F.Column, b: F.Column, t: float = 0.7) -> F.Column:
    """True iff the two normalized terms have the same word count and every
    aligned word pair has char-set Jaccard >= t and length difference <= 1.
    Catches small in-word edits; immune to the shared-word inflation that
    breaks whole-string shingle Jaccard ('gradient regularization' vs
    'latent regularization')."""
    wa, wb = F.split(a, " "), F.split(b, " ")
    cs = lambda w: F.array_distinct(F.filter(F.split(w, ""), lambda c: c != ""))
    pair_ok = F.zip_with(
        wa, wb,
        lambda x, y: (
            (F.size(F.array_intersect(cs(x), cs(y))).cast("double")
             / F.size(F.array_union(cs(x), cs(y))) >= t)
            & (F.abs(F.length(x) - F.length(y)) <= 1)
        ),
    )
    return (F.size(wa) == F.size(wb)) & F.forall(pair_ok, lambda x: x)


def minhash_candidate_edges(
    terms: DataFrame,
    shingle_size: int = LSH_SHINGLE_SIZE,
    num_hashes: int = LSH_NUM_HASHES,
    num_bands: int = LSH_NUM_BANDS,
    jaccard_threshold: float = LSH_JACCARD_THRESHOLD,
    verify_threshold: float = 0.7,
    ambiguous_band: tuple[float, float] | None = None,
) -> DataFrame:
    """Banded MinHash-LSH self-join + word-aligned verification.

    Plan shape: terms → [map] shingles+signature+bands → explode bands →
    shuffle on (band_idx, band_hash) → per-bucket pair join → verify. The
    bucket join is an equi-join, so AQE skew-join splitting applies if a
    bucket runs hot. Banding gives candidate recall; the verifier is the
    word-aligned char-set rule (not whole-string Jaccard, which cannot
    separate one-word typos from two-word terms sharing a long word).

    Tunables reconstructing the reference's decision ladder
    (entity_resolver.py:219-279 — auto-merge >= 0.90, LLM band
    0.85 <= sim < 0.90):
      verify_threshold — per-word char-set Jaccard the deterministic verifier
          requires (the auto-merge strictness knob; default 0.7).
      ambiguous_band=(lo, hi) — candidates whose whole-string shingle
          Jaccard falls in [lo, hi) but FAIL the verifier are emitted with
          phase='ambiguous' instead of being dropped: the reference sent
          this band to an LLM; this engine surfaces it for the caller's
          adjudicator (canonicalize_stage ignores ambiguous edges, so
          nothing merges on them by default)."""
    sh = (
        terms
        .withColumn("shingles", F.array_distinct(
            char_shingles(F.col("norm_term"), shingle_size)))
        .withColumn("sig", minhash_signature("shingles", num_hashes))
        .select(
            "norm_term", "shingles",
            F.posexplode(lsh_bands("sig", num_hashes, num_bands))
            .alias("band_idx", "band_hash"),
        )
    )

    a = sh.alias("a")
    b = sh.alias("b")
    cand = (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("a.norm_term") < F.col("b.norm_term"))
        .select(
            F.col("a.norm_term").alias("src"),
            F.col("b.norm_term").alias("dst"),
            F.col("a.shingles").alias("sh_a"),
            F.col("b.shingles").alias("sh_b"),
        )
        .dropDuplicates(["src", "dst"])
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    # verify on resolver-normalized strings so hyphenated variants are
    # compared word-by-word, not as one giant word
    verified = _word_aligned_similar(
        normalize_term_resolver(F.col("src")),
        normalize_term_resolver(F.col("dst")), t=verify_threshold)
    scored = cand.withColumn("sim", F.round(inter / union, 6))
    fuzzy = scored.filter(verified).select(
        "src", "dst", "sim", F.lit("fuzzy").alias("phase"))
    if ambiguous_band is None:
        return fuzzy
    lo, hi = ambiguous_band
    ambiguous = (
        scored.filter(~verified
                      & (F.col("sim") >= lo) & (F.col("sim") < hi))
        .select("src", "dst", "sim", F.lit("ambiguous").alias("phase"))
    )
    return fuzzy.unionByName(ambiguous)


def link_stage(mentions: DataFrame, enable_fuzzy: bool = True,
               terms: DataFrame | None = None,
               fuzzy_verify_threshold: float = 0.7,
               ambiguous_band: tuple[float, float] | None = None) -> DataFrame:
    if terms is None:
        # four phases consume the vocabulary — materialize the distinct once
        # instead of re-scanning the mentions table per phase
        terms = distinct_terms(mentions).persist()
    edges = alias_edges(terms)
    if enable_fuzzy:
        edges = edges.unionByName(resolver_norm_edges(terms))
        edges = edges.unionByName(charsort_edges(terms))
        edges = edges.unionByName(minhash_candidate_edges(
            terms, verify_threshold=fuzzy_verify_threshold,
            ambiguous_band=ambiguous_band))
    return edges
