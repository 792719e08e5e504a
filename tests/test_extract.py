"""Stage-1 extraction + windowing invariants."""

from pyspark.sql import functions as F

from knowledge_extraction_pipeline_spark.operators.extract import (
    extract_stage,
    window_turns,
)


def test_per_turn_text_equality_under_stable_ordering(spark, transcripts):
    """North-rule invariant: windowing by conv_id with stable turn_idx
    ordering must preserve per-turn text exactly."""
    w = window_turns(transcripts)
    back = w.select("conv_id", "turn_idx", "text")
    diff = transcripts.select("conv_id", "turn_idx", "text").exceptAll(back)
    assert diff.count() == 0
    assert back.exceptAll(transcripts.select("conv_id", "turn_idx", "text")).count() == 0
    # chunk linkage is consistent: next(prev) round-trips
    a = w.select("conv_id", "chunk_id", "next_chunk_id").filter(F.col("next_chunk_id").isNotNull())
    b = w.select(F.col("prev_chunk_id").alias("chunk_id"), F.col("chunk_id").alias("next_chunk_id")) \
         .filter(F.col("chunk_id").isNotNull())
    assert a.select("chunk_id", "next_chunk_id").exceptAll(b).count() == 0


def test_quotes_are_verbatim(spark, transcripts):
    m, _ = extract_stage(transcripts, engine="pandas")
    joined = m.join(transcripts, on=["conv_id", "turn_idx"])
    bad = joined.filter(~F.col("text").contains(F.col("quote")))
    assert bad.count() == 0
    assert m.filter(F.col("confidence") < 1.0).count() == 0


def test_extraction_matches_pure_python(spark, transcripts):
    """The Spark UDF and the shared pure-Python matcher agree row by row;
    `start` is the match ordinal in the turn."""
    from knowledge_extraction_pipeline_spark.functions.lexicon import (
        extract_mentions_text,
    )
    rows = transcripts.limit(50).collect()
    m = extract_stage(transcripts.limit(50), engine="pandas")[0].collect()
    got = {(r["conv_id"], r["turn_idx"], r["start"], r["term"]) for r in m}
    want = set()
    for r in rows:
        for i, x in enumerate(extract_mentions_text(r["text"])):
            want.add((r["conv_id"], r["turn_idx"], i, x["term"]))
    assert got == want


def test_jvm_and_pandas_paths_agree(spark, transcripts):
    """The whole-stage-codegen trie-regex engine and the Arrow-UDF engine
    emit identical mention and triple tables, row for row."""
    (a, ta), (b, tb) = (extract_stage(transcripts, engine=e) for e in ("pandas", "jvm"))
    assert a.count() > 0 and ta.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert ta.exceptAll(tb).count() == 0 and tb.exceptAll(ta).count() == 0


def test_trie_regex_equivalence():
    """Trie-structured pattern ≡ longest-first flat alternation."""
    import random
    import re

    from knowledge_extraction_pipeline_spark.functions.lexicon import (
        surface_map,
        trie_regex,
    )
    surfaces = sorted(surface_map().keys())
    flat = re.compile(
        r"\b(" + "|".join(re.escape(s) for s in
                          sorted(surfaces, key=len, reverse=True)) + r")\b", re.I)
    trie = re.compile(r"\b(" + trie_regex(surfaces) + r")\b", re.I)
    rng = random.Random(11)
    words = surfaces + ["the", "and", "unrelated", "words", "here"]
    for _ in range(500):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(2, 12)))
        assert ([(m.start(), m.group(1)) for m in flat.finditer(text)]
                == [(m.start(), m.group(1)) for m in trie.finditer(text)]), text


def test_triples_raw_pairs(spark, transcripts):
    m, tr = extract_stage(transcripts)
    assert tr.filter(F.col("subj") >= F.col("obj")).count() == 0
    # every triple's endpoints are mentioned in that turn
    mm = m.select("conv_id", "turn_idx", "norm_term").distinct()
    j = tr.join(mm.withColumnRenamed("norm_term", "subj"), ["conv_id", "turn_idx", "subj"], "left_anti")
    assert j.count() == 0


def test_literal_maps_return_the_lexicon_values(spark):
    """The one-call category and importance maps of the JVM path return
    surface_map()'s values for every key."""
    from knowledge_extraction_pipeline_spark.functions.lexicon import surface_map
    from knowledge_extraction_pipeline_spark.operators.extract import _lookup_maps

    cat_map, imp_map = _lookup_maps()
    keys = spark.createDataFrame([(k,) for k in surface_map()], "k string")
    got = {r["k"]: (r["c"], r["i"]) for r in keys.selectExpr(
        "k", f"{cat_map}[k] AS c", f"{imp_map}[k] AS i").collect()}
    assert got == {k: (c, i) for k, (_b, _kind, c, i) in surface_map().items()}


def test_literal_map_escapes_quotes_and_backslashes(spark):
    from knowledge_extraction_pipeline_spark.functions.lexicon import literal_map_sql

    d = {"it's": "a\\b", "back\\slash": "q'uote", "both\\'": "\\n'", "plain": "x"}
    keys = spark.createDataFrame([(k,) for k in [*d, "missing"]], "k string")
    got = dict(keys.selectExpr("k", f"{literal_map_sql(d)}[k] AS v").collect())
    assert got == {**d, "missing": None}
