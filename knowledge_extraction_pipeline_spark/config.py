"""Pipeline constants kept byte-identical to the reference's deterministic path.

These are *data* (semantic contracts), not code: the parity oracle in
``tests/`` re-runs the reference's own deterministic operators against them.

Citations into /root/reference:
  * KNOWN_ALIASES        — src/knowledge_extraction/mcp/graph_tools.py:109-117
  * MIN_COOCCURRENCES    — src/knowledge_extraction/mcp/graph_tools.py:158
  * strength/confidence  — src/knowledge_extraction/mcp/graph_tools.py:220-228
  * EVIDENCE_SAMPLE      — src/knowledge_extraction/mcp/graph_tools.py:230
  * CATEGORY_RELATIONSHIPS — scripts/type_relationships.py:27-92
  * CATEGORIES           — config/domains.yaml (domains.general.categories)
  * IMPORTANCE_WEIGHTS   — scripts/infer_relationships_tfidf.py:77-82
  * DEFINITIONS_CAP      — extraction/entity_resolver.py:497
"""

from __future__ import annotations

# Known-alias expansion (graph_tools.py:109-117). Keys and values are in
# normalized form (lower, whitespace-collapsed).
KNOWN_ALIASES: dict[str, str] = {
    "ml": "machine learning",
    "ai": "artificial intelligence",
    "nn": "neural network",
    "cnn": "convolutional neural network",
    "rnn": "recurrent neural network",
    "nlp": "natural language processing",
    "cv": "computer vision",
}

# Co-occurrence edge thresholds / formulas (graph_tools.py:158, :220-230).
MIN_COOCCURRENCES = 2
CONFIDENCE_SATURATION = 10.0  # confidence = min(1, |common| / 10)
EVIDENCE_SAMPLE = 5           # evidence list sampled to <= 5 entries
DEFINITIONS_CAP = 10          # definitions kept per node <= 10

# Entity categories (config/domains.yaml, domains.general).
CATEGORIES = [
    "theory", "method", "phenomenon", "principle", "metric", "tool", "concept",
]

IMPORTANCE_LEVELS = ["critical", "high", "medium", "low"]
IMPORTANCE_WEIGHTS = {"critical": 1.0, "high": 0.8, "medium": 0.6, "low": 0.4}

# Category-pair → relationship-type rule table (scripts/type_relationships.py:27-92).
# Orientation matters: (source_cat, target_cat) is tried first, then the
# reverse; unmatched pairs fall back to RELATED_TO
# (type_relationships.py:107-128).
CATEGORY_RELATIONSHIPS: dict[tuple[str, str], str] = {
    ("method", "concept"): "APPLIES_TO",
    ("method", "extracted"): "APPLIES_TO",
    ("method", "problem"): "ADDRESSES",
    ("method", "phenomenon"): "STUDIES",
    ("method", "metric"): "USES",
    ("method", "method"): "VARIANT_OF",
    ("method", "theory"): "IMPLEMENTS",
    ("method", "tool"): "USES",
    ("method", "principle"): "GUIDED_BY",
    ("method", "bias"): "MITIGATES",
    ("theory", "concept"): "DEFINES",
    ("theory", "extracted"): "DEFINES",
    ("theory", "phenomenon"): "EXPLAINS",
    ("theory", "method"): "GROUNDS",
    ("theory", "principle"): "CONTAINS",
    ("theory", "theory"): "RELATED_TO",
    ("concept", "concept"): "RELATED_TO",
    ("concept", "extracted"): "RELATED_TO",
    ("extracted", "extracted"): "RELATED_TO",
    ("concept", "phenomenon"): "MANIFESTS_AS",
    ("concept", "metric"): "QUANTIFIED_BY",
    ("phenomenon", "phenomenon"): "RELATED_TO",
    ("phenomenon", "concept"): "INVOLVES",
    ("phenomenon", "extracted"): "INVOLVES",
    ("phenomenon", "method"): "STUDIED_BY",
    ("phenomenon", "metric"): "MEASURED_BY",
    ("principle", "method"): "GUIDES",
    ("principle", "concept"): "GOVERNS",
    ("principle", "extracted"): "GOVERNS",
    ("principle", "principle"): "RELATED_TO",
    ("metric", "concept"): "MEASURES",
    ("metric", "extracted"): "MEASURES",
    ("metric", "phenomenon"): "QUANTIFIES",
    ("metric", "method"): "EVALUATES",
    ("problem", "method"): "SOLVED_BY",
    ("problem", "concept"): "INVOLVES",
    ("problem", "phenomenon"): "CAUSED_BY",
    ("tool", "method"): "IMPLEMENTS",
    ("tool", "concept"): "OPERATES_ON",
    ("tool", "extracted"): "OPERATES_ON",
    ("bias", "phenomenon"): "AFFECTS",
    ("bias", "method"): "AFFECTS",
    ("assessment", "concept"): "EVALUATES",
    ("assessment", "extracted"): "EVALUATES",
    ("cognitive_process", "phenomenon"): "PRODUCES",
    ("feature", "concept"): "CHARACTERIZES",
    ("feature", "extracted"): "CHARACTERIZES",
}

DEFAULT_RELATIONSHIP_TYPE = "RELATED_TO"

# Fuzzy-link (MinHash/LSH) stage defaults. The reference's deterministic path
# has no fuzzy stage (its embedding path is LLM/model-driven,
# entity_resolver.py:396-436); ours replaces it with character-shingle MinHash.
# A high Jaccard threshold keeps parity with the deterministic oracle while
# still catching typo/hyphen variants.
LSH_SHINGLE_SIZE = 4       # boundary-marked 4-shingles ('#gradient#descent#')
LSH_NUM_HASHES = 32
LSH_NUM_BANDS = 16         # 16 bands x 2 rows — P(candidate) ≈ 0.997 at J=0.55

# Stage names, in order, for the checkpointed pipeline.
STAGES = ["extract", "link", "canonicalize", "materialize"]
