"""Deterministic entity lexicon + mention matcher.

The reference's concept-extraction operator is an LLM prompt/parse pair
(/root/reference/src/knowledge_extraction/extraction/concept_extractor.py:380-481).
This engine replaces it with a deterministic lexicon matcher: the same pure
Python matcher is used by the vectorized Spark UDF (operators/extract.py), the
synthetic transcripts generator (sources/transcripts_gen.py) and the
reference-parity oracle in tests — so extraction itself can never cause a
parity gap; only the downstream link/canonicalize/materialize stages are under
test.

Everything here is seeded and order-stable: term lists are literal-derived,
categories/importances are md5-hash assigned.
"""

from __future__ import annotations

import hashlib
import re
from functools import lru_cache

from ..config import CATEGORIES, IMPORTANCE_LEVELS, KNOWN_ALIASES

# ~157 base terms: 150 synthetic two-word domain terms + the 7 canonical
# terms from the reference's known-alias table (graph_tools.py:109-117).
_PREFIXES = [
    "gradient", "stochastic", "adversarial", "bayesian", "causal",
    "spectral", "latent", "sparse", "convex", "recursive",
    "variational", "contrastive", "symbolic", "probabilistic", "federated",
]
_HEADS = [
    "descent", "inference", "propagation", "optimization", "embedding",
    "regularization", "attention", "sampling", "clustering", "encoding",
]

# Abbreviation surface → canonical base term (the alias pairs the reference
# merges in known_alias_resolution).
ABBREVIATIONS = {
    "ML": "machine learning",
    "AI": "artificial intelligence",
    "NN": "neural network",
    "CNN": "convolutional neural network",
    "RNN": "recurrent neural network",
    "NLP": "natural language processing",
    "CV": "computer vision",
}


def _stable_hash(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


@lru_cache(maxsize=1)
def base_terms() -> list[tuple[str, str, str]]:
    """[(base_term, category, importance)] — base terms in normalized form."""
    # Alias-canonical terms first: the generator's Zipf head makes them hot,
    # so abbreviation merging is exercised heavily.
    terms = sorted(set(ABBREVIATIONS.values()))
    terms += [f"{p} {h}" for p in _PREFIXES for h in _HEADS]
    out = []
    for t in terms:
        h = _stable_hash("cat:" + t)
        out.append((t, CATEGORIES[h % len(CATEGORIES)],
                    IMPORTANCE_LEVELS[(h >> 8) % len(IMPORTANCE_LEVELS)]))
    return out


def typo_variant(base: str) -> str:
    """One deterministic typo per base term: swap 3rd/4th chars of last word."""
    words = base.split()
    w = words[-1]
    if len(w) >= 5:
        w = w[:2] + w[3] + w[2] + w[4:]
    words[-1] = w
    return " ".join(words)


def hyphen_variant(base: str) -> str:
    return base.replace(" ", "-")


@lru_cache(maxsize=1)
def surface_map() -> dict[str, tuple[str, str, str, str]]:
    """lowercased surface → (base_term, surface_kind, category, importance).

    surface_kind ∈ {base, abbrev, hyphen, typo}. Case variants (Title/UPPER)
    are handled by case-insensitive matching, mirroring the reference's
    normalize_term (graph_tools.py:22-29: lower + whitespace collapse) which
    merges case variants in the exact phase.
    """
    m: dict[str, tuple[str, str, str, str]] = {}
    for base, cat, imp in base_terms():
        m[base] = (base, "base", cat, imp)
        hv = hyphen_variant(base)
        if hv != base:
            m[hv] = (base, "hyphen", cat, imp)
        tv = typo_variant(base)
        if tv != base:
            m[tv] = (base, "typo", cat, imp)
    for abbr, base in ABBREVIATIONS.items():
        _, _, cat, imp = m[base]
        m[abbr.lower()] = (base, "abbrev", cat, imp)
    return m


def trie_regex(words: list[str]) -> str:
    """Build a character-trie regex for a word list. Equivalent to a
    longest-first flat alternation (leftmost-longest at every position —
    shared prefixes branch, end-of-word is a greedy optional suffix) but
    ~10-50× faster to execute: a flat 1400-way alternation makes the regex
    engine try every alternative at every position, the trie makes it walk
    one character path."""
    trie: dict = {}
    for w in words:
        d = trie
        for ch in w:
            d = d.setdefault(ch, {})
        d["$end$"] = {}

    def emit(d: dict) -> str:
        has_end = "$end$" in d
        alts = [re.escape(k) + emit(d[k])
                for k in sorted(k for k in d if k != "$end$")]
        if not alts:
            return ""
        if len(alts) == 1 and not has_end:
            return alts[0]
        return "(?:" + "|".join(alts) + ")" + ("?" if has_end else "")

    return emit(trie)


@lru_cache(maxsize=1)
def matcher() -> re.Pattern:
    """Single compiled trie-structured pattern over every known surface
    (leftmost-longest, so 'convolutional neural network' wins over its
    'neural network' infix), case-insensitive, word-bounded."""
    pat = r"\b(" + trie_regex(sorted(surface_map().keys())) + r")\b"
    return re.compile(pat, re.IGNORECASE)


QUOTE_CONTEXT = 40  # chars of context kept on each side of a match


def extract_mentions_text(text: str) -> list[dict]:
    """Pure-Python mention extraction for ONE string.

    Returns dicts with: term (surface as matched, original casing), base_term,
    norm_term (reference normalize_term of the surface), category, importance,
    start, quote. Shared verbatim between the Spark pandas UDF and the test
    oracle.
    """
    if not text:
        return []
    out = []
    for mt in matcher().finditer(text):
        surface = mt.group(1)
        key = re.sub(r"\s+", " ", surface.lower().strip())
        info = surface_map().get(key)
        if info is None:  # pragma: no cover — matcher and map are in sync
            continue
        base, kind, cat, imp = info
        s, e = mt.span(1)
        out.append({
            "term": surface,
            "base_term": base,
            "norm_term": key,
            "category": cat,
            "importance": imp,
            "start": s,
            "quote": text[max(0, s - QUOTE_CONTEXT): e + QUOTE_CONTEXT],
        })
    return out


def normalize_term_py(term: str) -> str:
    """Reference normalize_term, byte-identical (graph_tools.py:22-29)."""
    if not term:
        return ""
    return re.sub(r"\s+", " ", term.lower().strip())


def apply_alias_py(norm: str) -> str:
    """Reference alias canonicalization (graph_tools.py:119-130)."""
    return KNOWN_ALIASES.get(norm, norm)


def sql_str(s: str) -> str:
    """`s` as a SQL string literal, quotes and backslashes escaped."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def literal_map_sql(d: dict[str, str]) -> str:
    """A str → str dict as ONE `map(...)` SQL expression: parsed in one JVM
    call, where `F.create_map(*[F.lit(x) ...])` makes one per key and per
    value. It analyzes to the same CreateMap of string literals."""
    return "map(" + ", ".join(sql_str(x) for kv in d.items() for x in kv) + ")"


def apply_alias_sql(norm: str) -> str:
    """apply_alias_py of the SQL expression `norm`: the known-alias target of
    a normalized term, else the term itself (a map literal — no join)."""
    return f"coalesce({literal_map_sql(KNOWN_ALIASES)}[{norm}], {norm})"
