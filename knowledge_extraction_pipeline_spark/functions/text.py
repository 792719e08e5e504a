"""Text scalar functions as JVM-side Column expressions (no Python in the hot
path). Each mirrors a reference operator; citations in docstrings point into
/root/reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_term(c: Column) -> Column:
    """Reference normalize_term: lower, strip, collapse whitespace
    (mcp/graph_tools.py:22-29). Stays inside whole-stage codegen."""
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def normalize_term_resolver(c: Column) -> Column:
    """Resolver variant: also folds '-'/'_' to space
    (extraction/entity_resolver.py:158-162)."""
    return F.regexp_replace(F.trim(F.regexp_replace(F.lower(c), r"[-_]", " ")), r"\s+", " ")


def word_count(c: Column) -> Column:
    """len(text.split()) (core/semantic_chunker.py:294-296)."""
    return F.size(F.split(F.trim(c), r"\s+"))


def token_count(c: Column) -> Column:
    """BPE-ish token estimate: word-pieces of <=4 chars. A deterministic
    stand-in for a real tokenizer: ceil(len(word)/4) summed over words."""
    w = F.split(F.trim(c), r"\s+")
    return F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.ceil(F.length(x) / 4.0).cast("int")
    )


# GPT-2-style pre-tokenizer classes, RE2-safe (no lookaround) so the SAME
# pattern string runs in Spark's Java regex and the DuckDB oracle: letter
# runs, digit runs, and punctuation runs are separate pre-tokens.
PRETOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def pretokenize(c: Column) -> Column:
    """Split text into BPE-style pre-tokens (array<string>): the merge-free
    first stage of a GPT-2-family tokenizer. Unlike token_count's chars/4
    estimate this is an exact, reproducible segmentation — the unit real BPE
    merges would then operate on."""
    return F.regexp_extract_all(c, F.lit(PRETOKEN_PATTERN), F.lit(0))


def has_citations(c: Column) -> Column:
    """Citation detection, the high-signal subset of the reference's 9 regexes
    (core/semantic_chunker.py:146-171): (Author et al., 2020) / [1] / [1-3] /
    'see Figure 5'."""
    return (
        c.rlike(r"\([A-Z][a-z]+( et al\.)?,? \d{4}\)")
        | c.rlike(r"\[\d+(-\d+)?(,\s*\d+)*\]")
        | c.rlike(r"see (Figure|Table|Section) \d+")
    )


def lang_id(c: Column) -> Column:
    """Stopword-hit language heuristic over {en,es,fr,de,zh}: picks the
    language whose marker words hit most; defaults 'en'. Pure expression —
    scales as a map-side scan."""
    markers = {
        "en": ["the", "and", "of", "to", "is"],
        "es": ["el", "la", "de", "que", "los"],
        "fr": ["le", "la", "les", "des", "est"],
        "de": ["der", "die", "und", "das", "ist"],
    }
    words = F.split(F.lower(c), r"\s+")
    scores = [
        (lang, F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in ws]))))
        for lang, ws in markers.items()
    ]
    # CJK presence beats stopword scoring.
    expr = F.when(c.rlike(r"[一-鿿]"), F.lit("zh"))
    best = F.greatest(*[s for _, s in scores])
    for lang, s in scores:
        expr = expr.when((best > 0) & (s == best), F.lit(lang))
    return expr.otherwise(F.lit("en"))


def quality_score(c: Column) -> Column:
    """Document quality in [0,1] from length / punctuation / stopword ratios —
    the deterministic analog of the reference's LLM validation confidence
    penalties (extraction/concept_extractor.py:549-558)."""
    n = F.length(c)
    wc = word_count(c).cast("double")
    stop_hits = F.size(
        F.array_intersect(
            F.split(F.lower(c), r"\s+"),
            F.array(*[F.lit(w) for w in
                      ["the", "a", "of", "to", "and", "is", "in", "that"]]),
        )
    ).cast("double")
    punct = (n - F.length(F.regexp_replace(c, r"[^\w\s]", ""))).cast("double")
    len_score = F.least(F.lit(1.0), wc / 100.0)
    stop_score = F.least(F.lit(1.0), 5.0 * stop_hits / F.greatest(wc, F.lit(1.0)))
    punct_penalty = F.least(F.lit(0.5), punct / F.greatest(n.cast("double"), F.lit(1.0)))
    return F.round(0.5 * len_score + 0.5 * stop_score - punct_penalty, 4)


def importance_weight(c: Column) -> Column:
    """critical/high/medium/low → 1.0/0.8/0.6/0.4
    (scripts/infer_relationships_tfidf.py:77-82), as a when-chain."""
    from ..config import IMPORTANCE_WEIGHTS

    expr = F.lit(None).cast("double")
    out = F.when(F.lit(False), expr)
    for k, v in IMPORTANCE_WEIGHTS.items():
        out = out.when(c == k, F.lit(v))
    return out.otherwise(F.lit(0.4))


def fingerprint(c: Column) -> Column:
    """64-bit document fingerprint: xxhash64 of the whitespace-normalized,
    lowercased text — the exact-dedup key."""
    return F.xxhash64(normalize_term(c))


def word_shingles(c: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string> (for Jaccard / MinHash), built with
    JVM array functions: zip the word array against its k-1 shifted copies."""
    words = F.split(F.trim(F.lower(c)), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(k)])
    )).otherwise(F.array(F.concat_ws(" ", words)))


def char_shingles(c: Column, k: int = 3) -> Column:
    """k-char shingles of the normalized string with word-boundary markers
    ('#'): '#gradient#descent#'. Boundary marking stops suffix/prefix word
    sharing from inflating Jaccard between distinct two-word terms (entity-
    name MinHash input — see operators/link.py)."""
    s = F.concat(F.lit("#"), F.regexp_replace(normalize_term(c), " ", "#"), F.lit("#"))
    n = F.length(s)
    idx = F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1)))
    return F.transform(idx, lambda i: s.substr(i, F.lit(k)))


def minhash_signature(shingles: str, num_hashes: int, seed: int = 42) -> Column:
    """MinHash signature as array<long> of the array<string> column named
    `shingles`: per hash i, min over shingles of xxhash64(shingle, seed+i).
    Single fold over the shingle array (one pass, vs num_hashes separate
    transform+min passes). One SQL expression, so building it is one JVM
    call."""
    return F.expr(
        f"aggregate(`{shingles}`, "
        f"array_repeat(CAST({2**63 - 1} AS BIGINT), {num_hashes}), "
        f"(acc, s) -> zip_with(acc, "
        f"transform(sequence(0, {num_hashes - 1}), i -> xxhash64(s, i + {seed})), "
        f"(x, y) -> least(x, y)))")


def lsh_bands(signature: str, num_hashes: int, num_bands: int) -> Column:
    """Split the MinHash signature column named `signature` (array<long>,
    length num_hashes) into band hashes: array<long> of length num_bands;
    band b hashes its contiguous slice of the signature. Two sets collide in
    band b iff their slices are identical — the standard LSH banding scheme.
    One SQL expression, so building it is one JVM call."""
    rows = num_hashes // num_bands
    return F.expr("array(" + ", ".join(
        f"xxhash64({b}, concat_ws(',', transform(slice(`{signature}`, {b * rows + 1}, "
        f"{rows}), x -> CAST(x AS STRING))))"
        for b in range(num_bands)) + ")")
