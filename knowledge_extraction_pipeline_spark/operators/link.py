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
                (entity_resolver.py:396-436). Banding generates candidates
                (one shuffle of band buckets, pairs formed inside each);
                a word-aligned rule verifies. Runs on |distinct terms|, not
                |mentions| — the blocking is what survives 100× scale-up.

Before the fuzzy phase, two blocking phases (resolver normalization and
per-word sorted characters) link each term to its block's min member, one
window over the blocking key each.

Output: candidate edge list (src, dst, sim, phase) — input to stage 3 CC.

Each phase is one SQL statement over the `{terms}` relation, and
link_stage is their UNION ALL: one JVM call parses and analyzes the whole
candidates plan, where building it from Column and DataFrame calls took
over a thousand py4j round trips, each DataFrame call re-analyzing the
growing plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from ..config import LSH_NUM_BANDS, LSH_NUM_HASHES, LSH_SHINGLE_SIZE
from ..functions.lexicon import apply_alias_sql
from ..functions.text import (
    char_shingles_sql,
    lsh_bands_sql,
    minhash_sql,
    normalize_term_resolver_sql,
    sql_column,
)
from ..session import sql


def distinct_terms(mentions: DataFrame) -> DataFrame:
    """One row per normalized term. This is the vocabulary — orders of
    magnitude smaller than the mentions table; every fuzzy-phase cost is
    per-term, never per-mention."""
    return mentions.select("norm_term").distinct()


# (norm → canonical) edges from the known-alias table, as a broadcast map
# literal — a constant-folded expression, no join
ALIAS_EDGES = f"""
SELECT norm_term AS src, dst, 1.0D AS sim, 'alias' AS phase
FROM (SELECT *, {apply_alias_sql('norm_term')} AS dst FROM {{terms}})
WHERE dst != norm_term"""


def _blocked_edges(key: str, phase: str) -> str:
    """Terms sharing the blocking `key` (a SQL expression of norm_term) are
    linked to the block's min member: O(n) blocking, no pair enumeration.
    One window over the key, so the key is computed once per term and the
    plan has one shuffle; a term differing from its block's min implies a
    block of two or more."""
    return f"""
SELECT norm_term AS src, dst, 1.0D AS sim, '{phase}' AS phase
FROM (SELECT norm_term, min(norm_term) OVER (PARTITION BY {key}) AS dst FROM {{terms}})
WHERE norm_term != dst"""


# hyphen/underscore variants: terms whose resolver normalization (fold
# '-'/'_' to space — entity_resolver.py:158-162) agrees. Catches 100% of
# punctuation variants exactly; the MinHash stage then only has to catch typos
RESOLVER_NORM_EDGES = _blocked_edges(
    normalize_term_resolver_sql("norm_term"), "resolver_norm")

# transposition typos: key = each word with its characters sorted ('decsent'
# and 'descent' → 'cdeenst'), so the block's terms have identical per-word
# character multisets — near-certain typo variants
CHARSORT_EDGES = _blocked_edges(
    "array_join(transform(split(norm_term, ' '), w -> array_join(array_sort("
    "filter(split(w, ''), c -> c != '')), '')), ' ')", "charsort")


def _word_aligned_sql(a: str, b: str, t: float = 0.7) -> str:
    """True iff the two normalized terms (SQL expressions) have the same word
    count and every aligned word pair has char-set Jaccard >= t and length
    difference <= 1. Catches small in-word edits; immune to the shared-word
    inflation that breaks whole-string shingle Jaccard ('gradient
    regularization' vs 'latent regularization')."""
    def cs(w: str) -> str:
        return f"array_distinct(filter(split({w}, ''), c -> c != ''))"
    return (f"size(split({a}, ' ')) = size(split({b}, ' ')) AND forall(zip_with("
            f"split({a}, ' '), split({b}, ' '), (x, y) -> "
            f"CAST(size(array_intersect({cs('x')}, {cs('y')})) AS DOUBLE)"
            f" / size(array_union({cs('x')}, {cs('y')})) >= {t!r}D"
            f" AND abs(length(x) - length(y)) <= 1), z -> z)")


def _word_aligned_similar(a: Column, b: Column, t: float = 0.7) -> Column:
    """The Column form of the fuzzy verifier, _word_aligned_sql."""
    return sql_column(lambda x, y: _word_aligned_sql(x, y, t), a, b)


def _minhash_sql(ambiguous_band: tuple[float, float] | None) -> str:
    """minhash_candidate_edges as one statement over `{terms}`."""
    def shingles(t: str) -> str:
        return f"array_distinct({char_shingles_sql(t, LSH_SHINGLE_SIZE)})"
    sim = (f"round(CAST(size(array_intersect({shingles('src')}, {shingles('dst')})) AS DOUBLE)"
           f" / CAST(size(array_union({shingles('src')}, {shingles('dst')})) AS DOUBLE), 6)")
    # verify on resolver-normalized strings so hyphenated variants are
    # compared word-by-word, not as one giant word
    ok = _word_aligned_sql(normalize_term_resolver_sql("src"),
                           normalize_term_resolver_sql("dst"))
    if ambiguous_band is None:
        scored = f"SELECT src, dst, {sim} AS sim, 'fuzzy' AS phase FROM cand WHERE {ok}"
    else:
        lo, hi = ambiguous_band
        scored = f"""
SELECT src, dst, sim, IF(ok, 'fuzzy', 'ambiguous') AS phase
FROM (SELECT src, dst, ok, {sim} AS sim FROM (SELECT src, dst, {ok} AS ok FROM cand))
WHERE ok OR (NOT ok AND sim >= {lo!r}D AND sim < {hi!r}D)"""
    # bands: one projection per term, so the signature is computed once.
    # posexplode_outer, not posexplode: the inner form makes the optimizer
    # infer a size(bands) > 0 filter below the projections, which re-inlines
    # the signature once per band (the array always has LSH_NUM_BANDS entries,
    # so both forms yield the same rows).
    # pairs: a pair x < y is formed in every bucket it shares and kept only
    # in its first shared band, so each distinct pair leaves the buckets once,
    # with no DISTINCT. The pair test is a filter inside the generator, not a
    # WHERE: a WHERE would share one Filter with the verifier, whose common
    # subexpressions Spark then evaluates for every (x, y) before the cheap
    # conjuncts can reject it; here the verifier only sees the pairs kept.
    return f"""
WITH banded AS (
  SELECT norm_term, {lsh_bands_sql('sig', LSH_NUM_HASHES, LSH_NUM_BANDS)} AS bands
  FROM (SELECT norm_term, {minhash_sql('shingles', LSH_NUM_HASHES)} AS sig
        FROM (SELECT norm_term, {shingles('norm_term')} AS shingles FROM {{terms}}))),
buckets AS (
  SELECT band_idx, collect_list(struct(norm_term, bands)) AS members
  FROM (SELECT norm_term, bands, posexplode_outer(bands) AS (band_idx, band_hash)
        FROM banded)
  GROUP BY band_idx, band_hash
  HAVING count(1) > 1),
cand AS (
  SELECT x.norm_term AS src, y.norm_term AS dst
  FROM buckets
  LATERAL VIEW explode(members) xs AS x
  LATERAL VIEW explode(filter(members, m -> x.norm_term < m.norm_term AND array_position(
    zip_with(x.bands, m.bands, (u, v) -> u = v), true) = band_idx + 1)) ys AS y)
{scored}"""


def minhash_candidate_edges(
    terms: DataFrame,
    ambiguous_band: tuple[float, float] | None = None,
) -> DataFrame:
    """Banded MinHash-LSH candidates + word-aligned verification.

    Plan shape: terms → [map] shingles, signature and band hashes, once per
    term → explode bands → one shuffle on (band_idx, band_hash), collecting
    each bucket's members → pairs formed inside each bucket, each distinct
    pair kept only in its first shared band → verify → shingle Jaccard `sim`
    of the pairs kept. No join and no DISTINCT: the verifier runs once per
    distinct pair. A bucket of k terms is one task that forms k(k-1)/2
    pairs, as many as a band self-join produces for it; nothing splits a
    hot bucket. Banding gives candidate recall; the verifier is the
    word-aligned char-set rule (not whole-string Jaccard, which cannot
    separate one-word typos from two-word terms sharing a long word).

    The reference's decision ladder (entity_resolver.py:219-279 —
    auto-merge >= 0.90, LLM band 0.85 <= sim < 0.90) is rebuilt as the
    verifier's per-word char-set Jaccard >= 0.7 (auto-merge) plus:
      ambiguous_band=(lo, hi) — candidates whose whole-string shingle
          Jaccard falls in [lo, hi) but FAIL the verifier are emitted with
          phase='ambiguous' instead of being dropped: the reference sent
          this band to an LLM; this engine surfaces it for the caller's
          adjudicator (canonicalize_stage ignores ambiguous edges, so
          nothing merges on them by default)."""
    return sql(_minhash_sql(ambiguous_band), terms=terms)


def alias_edges(terms: DataFrame) -> DataFrame:
    return sql(ALIAS_EDGES, terms=terms)


def resolver_norm_edges(terms: DataFrame) -> DataFrame:
    return sql(RESOLVER_NORM_EDGES, terms=terms)


def charsort_edges(terms: DataFrame) -> DataFrame:
    return sql(CHARSORT_EDGES, terms=terms)


def link_stage(mentions: DataFrame, enable_fuzzy: bool = True,
               terms: DataFrame | None = None) -> DataFrame:
    if terms is None:
        # four phases consume the vocabulary — materialize the distinct once
        # instead of re-scanning the mentions table per phase
        terms = distinct_terms(mentions).persist()
    phases = [ALIAS_EDGES]
    if enable_fuzzy:
        phases += [RESOLVER_NORM_EDGES, CHARSORT_EDGES, _minhash_sql(None)]
    return sql(" UNION ALL ".join(f"({p})" for p in phases), terms=terms)
