"""Stage 1 — EXTRACT: transcripts → mentions + triples_raw.

Replaces the reference's LLM concept-extraction round trip
(extraction/concept_extractor.py:380-481 generate/parse pair) with one
Arrow-batched pandas UDF (the deterministic lexicon matcher) and pure Column
expressions. Per-row independent ⇒ the whole stage is shuffle-free: it scans
the transcripts table once, map-side only — this is what makes extraction
embarrassingly parallel at 10^12 turns.

Outputs
  mentions(conv_id, turn_idx, term, norm_term, category, importance,
           start, quote, confidence)
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

MENTION_FIELDS = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("norm_term", T.StringType()),
    T.StructField("category", T.StringType()),
    T.StructField("importance", T.StringType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("quote", T.StringType()),
])


@F.pandas_udf(T.ArrayType(MENTION_FIELDS))
def extract_mentions_udf(texts: pd.Series) -> pd.Series:
    # Import inside the UDF so executors resolve it from --py-files.
    from knowledge_extraction_pipeline_spark.functions.lexicon import (
        extract_mentions_text,
    )

    def one(t):
        return [
            (m["term"], m["norm_term"], m["category"], m["importance"],
             m["start"], m["quote"])
            for m in extract_mentions_text(t)
        ]

    return texts.map(one)


def with_mention_array(transcripts: DataFrame) -> DataFrame:
    """transcripts + a `_mentions` array column (one UDF call, reused by both
    outputs of the stage)."""
    return transcripts.withColumn("_mentions", extract_mentions_udf(F.col("text")))


# ── JVM fast path ─────────────────────────────────────────────────────
# The lexicon matcher is a pure regex alternation, so it compiles straight to
# a Java regex and stays inside whole-stage codegen — ~10-30× faster than the
# Arrow round-trip. The pandas-UDF path above remains the general mechanism
# for extraction logic that can't compile to expressions (and the agreement
# test in tests/test_extract.py pins the two paths to identical mention sets).
# Differences: `start` is the match ORDINAL (not char offset — same ordering
# semantics, which is all downstream uses), and `quote` anchors at the first
# occurrence of the surface in the turn. Each table is one SQL statement, so
# its plan is built in one JVM call.


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


def with_mention_array_jvm(transcripts: DataFrame) -> DataFrame:
    """transcripts + `_surfaces` (array<string> of matched surfaces, in text
    order) — all JVM expressions."""
    from ..functions.lexicon import sql_str

    return sql(
        f"SELECT *, regexp_extract_all(text, {sql_str(_jvm_pattern())}, 1) AS _surfaces "
        "FROM {t}", t=transcripts)


def mentions_jvm(transcripts: DataFrame, prepared: bool = False) -> DataFrame:
    from ..functions.text import normalize_term_sql

    cat_map, imp_map = _lookup_maps()
    src = transcripts if prepared else with_mention_array_jvm(transcripts)
    norm = normalize_term_sql("term")
    return sql(f"""
SELECT conv_id, turn_idx, term, {norm} AS norm_term,
       {cat_map}[{norm}] AS category, {imp_map}[{norm}] AS importance, start,
       substring(text, greatest(1, locate(term, text) - 40), length(term) + 80) AS quote,
       1.0D AS confidence
FROM (SELECT conv_id, turn_idx, text, posexplode(_surfaces) AS (start, term) FROM {{src}})""",
        src=src)


def triples_raw_jvm(transcripts: DataFrame, prepared: bool = False) -> DataFrame:
    from ..functions.text import normalize_term_sql

    norms = f"array_sort(array_distinct(transform(_surfaces, s -> {normalize_term_sql('s')})))"
    src = transcripts if prepared else with_mention_array_jvm(transcripts)
    return sql(f"""
SELECT p.subj AS subj, 'CO_OCCURS' AS pred, p.obj AS obj, conv_id, turn_idx
FROM (SELECT conv_id, turn_idx, explode(filter(flatten(transform({norms}, a -> transform(
        {norms}, b -> struct(a AS subj, b AS obj, a < b AS keep)))), p -> p.keep)) AS p
      FROM {{src}})""", src=src)


def mentions(transcripts: DataFrame) -> DataFrame:
    """Exploded mentions table. Confidence mirrors the reference's validation
    penalty chain (concept_extractor.py:549-558): base 1.0, ×0.5 if the quote
    is not verbatim in the turn text (check #1 of the validation prompt) —
    always verbatim here by construction, but enforced as a real predicate."""
    m = (
        with_mention_array(transcripts)
        .select("conv_id", "turn_idx", "text", F.explode("_mentions").alias("m"))
        .select(
            "conv_id", "turn_idx",
            F.col("m.term").alias("term"),
            F.col("m.norm_term").alias("norm_term"),
            F.col("m.category").alias("category"),
            F.col("m.importance").alias("importance"),
            F.col("m.start").alias("start"),
            F.col("m.quote").alias("quote"),
            F.when(F.col("text").contains(F.col("m.quote")), F.lit(1.0))
            .otherwise(F.lit(0.5)).alias("confidence"),
        )
    )
    return m


def triples_raw(transcripts: DataFrame) -> DataFrame:
    """Within-turn unordered co-occurrence pairs, deduped per turn without a
    shuffle (array_distinct on the pair array before explode)."""
    ms = F.col("_mentions")
    pairs = F.array_distinct(
        F.filter(
            F.flatten(F.transform(
                ms,
                lambda a: F.transform(
                    ms,
                    lambda b: F.struct(
                        F.least(a["norm_term"], b["norm_term"]).alias("subj"),
                        F.greatest(a["norm_term"], b["norm_term"]).alias("obj"),
                        (a["norm_term"] < b["norm_term"]).alias("keep"),
                    ),
                ),
            )),
            lambda p: p["keep"],
        )
    )
    return (
        with_mention_array(transcripts)
        .select("conv_id", "turn_idx", F.explode(pairs).alias("p"))
        .select(
            F.col("p.subj").alias("subj"),
            F.lit("CO_OCCURS").alias("pred"),
            F.col("p.obj").alias("obj"),
            "conv_id", "turn_idx",
        )
    )


def extract_stage(transcripts: DataFrame,
                  engine: str = "jvm") -> tuple[DataFrame, DataFrame]:
    """engine='jvm' (default): whole-stage-codegen regex matcher.
    engine='pandas': the Arrow-batched UDF path (general mechanism for
    non-compilable extraction logic). Identical mention/triple sets."""
    if engine == "jvm":
        # run the regex scan ONCE; both outputs derive from the cached
        # surface arrays. cache() (columnar, compressed, column-prunable
        # InMemoryTableScan) beats an RDD localCheckpoint, which would
        # re-deserialize full rows for every consumer.
        base = with_mention_array_jvm(transcripts.select(
            "conv_id", "turn_idx", "text")).persist()
        return mentions_jvm(base, prepared=True), triples_raw_jvm(base, prepared=True)
    return mentions(transcripts), triples_raw(transcripts)


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
