"""Stage 1 — EXTRACT: transcripts → mentions + triples_raw.

Replaces the reference's LLM concept-extraction round trip
(extraction/concept_extractor.py:380-481 generate/parse pair) with the
deterministic lexicon matcher. The matcher yields one column, `_surfaces`:
the matched surfaces of a turn, in text order. Two engines compute it —
a Java regex (the default) or one Arrow-batched pandas UDF — and one pair
of SQL statements turns it into both tables. Per-row independent ⇒ the
whole stage is shuffle-free: it scans the transcripts table once, map-side
only — this is what makes extraction embarrassingly parallel at 10^12
turns.

Outputs
  mentions(conv_id, turn_idx, term, norm_term, category, importance,
           start, quote, confidence)
      `start` is the match ORDINAL in the turn (ordering is all downstream
      uses); `quote` anchors at the first occurrence of the surface in the
      turn, so it is verbatim by construction.
  triples_raw(subj, pred, obj, conv_id, turn_idx)
      within-turn co-occurring normalized-term pairs, deduped per turn
      *inside the array expression* (no shuffle); subj < obj lexicographically
      (final orientation is decided in stage 4 by global first occurrence,
      matching the reference's entity-list order semantics,
      mcp/graph_tools.py:205-217).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import sql


@F.pandas_udf(T.ArrayType(T.StringType()))
def match_surfaces_udf(texts: pd.Series) -> pd.Series:
    """The matched surfaces of each text, in text order: what
    regexp_extract_all returns on the JVM engine. Only the match crosses the
    Arrow boundary; everything derived from it is a JVM expression."""
    # Import inside the UDF so executors resolve it from --py-files.
    from knowledge_extraction_pipeline_spark.functions.lexicon import matcher

    pattern = matcher()
    return texts.map(lambda t: [m.group(1) for m in pattern.finditer(t)] if t else [])


# The lexicon matcher is a pure regex alternation, so on the JVM engine it
# compiles straight to a Java regex and stays inside whole-stage codegen —
# ~10-30× faster than the Arrow round trip. The pandas UDF is the general
# mechanism for matching logic that cannot compile to an expression (the
# agreement test in tests/test_extract.py pins the two engines to identical
# tables). Each table is one SQL statement, so its plan is built in one JVM
# call.


def _jvm_pattern() -> str:
    from ..functions.lexicon import surface_map, trie_regex

    return r"(?i)\b(" + trie_regex(sorted(surface_map().keys())) + r")\b"


def _lookup_maps() -> tuple[str, str]:
    """The surface → category and surface → importance maps, as SQL text."""
    from ..functions.lexicon import literal_map_sql, surface_map

    cat, imp = {}, {}
    for key, (_base, _kind, c, i) in surface_map().items():
        cat[key] = c
        imp[key] = i
    return literal_map_sql(cat), literal_map_sql(imp)


def _mentions(src: DataFrame) -> DataFrame:
    from ..functions.text import normalize_term_sql

    cat_map, imp_map = _lookup_maps()
    norm = normalize_term_sql("term")
    return sql(f"""
SELECT conv_id, turn_idx, term, {norm} AS norm_term,
       {cat_map}[{norm}] AS category, {imp_map}[{norm}] AS importance, start,
       substring(text, greatest(1, locate(term, text) - 40), length(term) + 80) AS quote,
       1.0D AS confidence
FROM (SELECT conv_id, turn_idx, text, posexplode(_surfaces) AS (start, term) FROM {{src}})""",
        src=src)


def _triples_raw(src: DataFrame) -> DataFrame:
    from ..functions.text import normalize_term_sql

    norms = f"array_sort(array_distinct(transform(_surfaces, s -> {normalize_term_sql('s')})))"
    return sql(f"""
SELECT p.subj AS subj, 'CO_OCCURS' AS pred, p.obj AS obj, conv_id, turn_idx
FROM (SELECT conv_id, turn_idx, explode(filter(flatten(transform({norms}, a -> transform(
        {norms}, b -> struct(a AS subj, b AS obj, a < b AS keep)))), p -> p.keep)) AS p
      FROM {{src}})""", src=src)


def extract_stage(transcripts: DataFrame,
                  engine: str = "jvm") -> tuple[DataFrame, DataFrame]:
    """engine='jvm' (default): whole-stage-codegen regex matcher.
    engine='pandas': the Arrow-batched UDF matcher (general mechanism for
    non-compilable extraction logic). Identical mention and triple tables."""
    _, mentions, triples_raw = _extract(transcripts, engine)
    return mentions, triples_raw


def _extract(transcripts: DataFrame,
             engine: str = "jvm") -> tuple[DataFrame, DataFrame, DataFrame]:
    """extract_stage plus the persisted surface relation both outputs read,
    for callers that release it once the outputs are written."""
    from ..functions.lexicon import sql_str

    t = transcripts.select("conv_id", "turn_idx", "text")
    if engine == "jvm":
        base = sql(
            f"SELECT *, regexp_extract_all(text, {sql_str(_jvm_pattern())}, 1) AS _surfaces "
            "FROM {t}", t=t)
    else:
        base = t.withColumn("_surfaces", match_surfaces_udf("text"))
    # match ONCE; both outputs derive from the cached surface arrays.
    # cache() (columnar, compressed, column-prunable InMemoryTableScan)
    # beats an RDD localCheckpoint, which would re-deserialize full rows
    # for every consumer.
    base = base.persist()
    return base, _mentions(base), _triples_raw(base)


def window_turns(transcripts: DataFrame) -> DataFrame:
    """Per-conversation turn windowing: stable (conv_id, turn_idx) ordering
    with prev/next linkage — the Spark analog of the reference's chunk
    prev/next ids (core/semantic_chunker.py:631-632) and the north-rule
    'per-turn text is windowed by conv_id with stable turn_idx ordering'
    invariant. One shuffle on conv_id; text is carried through untouched."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cid = F.concat_ws("#", "conv_id", "turn_idx")
    return (
        transcripts
        .withColumn("chunk_id", cid)
        .withColumn("prev_chunk_id", F.lag("chunk_id").over(w))
        .withColumn("next_chunk_id", F.lead("chunk_id").over(w))
        .withColumn("chunk_index", F.row_number().over(w) - 1)
    )
