"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (size, seed): the same seed gives the same
bytes. The program under test only ever receives the generated tables, which
are written as Parquet into the run's work directory before any timing starts.
"""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
    generate_transcripts,
)

# ~1.6 KB of filler per assistant/tool turn: 230 tokens of "zx" + 5 hex
# digits. No lexicon surface starts with "zx", so the filler adds scan bytes
# to extract without adding mentions.
FILLER_TOKENS = 230
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def chat_transcripts(spark: SparkSession, n_convs: int, seed: int) -> DataFrame:
    """Short chat turns over the fixed lexicon with Zipf-hot entities."""
    return generate_transcripts(spark, n_convs, seed=seed)


def agent_transcripts(spark: SparkSession, n_convs: int, seed: int) -> DataFrame:
    """Chat turns where every assistant and tool turn carries lexicon-free
    filler, imitating long agent tool output."""
    t = chat_transcripts(spark, n_convs, seed)
    tokens = F.transform(
        F.sequence(F.lit(1), F.lit(FILLER_TOKENS)),
        lambda i: F.concat(F.lit("zx"), F.substring(
            F.lower(F.hex(F.xxhash64(F.lit(seed), "conv_id", "turn_idx", i))), 1, 5)))
    return t.withColumn(
        "text",
        F.when(F.col("role") != "user",
               F.concat_ws(" ", "text", F.array_join(tokens, " ")))
        .otherwise(F.col("text")))


def _pseudo_word(rng: random.Random) -> str:
    return "".join(rng.choice(_LETTERS) for _ in range(rng.randint(5, 10)))


def _variant(base: str, kind: str, rng: random.Random) -> str:
    first, second = base.split(" ")
    if kind == "hyphen":
        return f"{first}-{second}"
    if kind == "transposition":
        i = rng.randrange(len(second) - 1)
        return f"{first} {second[:i]}{second[i + 1]}{second[i]}{second[i + 2:]}"
    # last-letter substitution
    return base[:-1] + rng.choice(_LETTERS.replace(base[-1], ""))


def vocabulary(n_bases: int, seed: int) -> tuple[list[str], list[tuple[str, str, str]]]:
    """Two-word base terms over a shared pool of pseudo-words, plus planted
    variants of 10 % of the bases. Returns (sorted distinct terms,
    [(variant, base, kind)]). Shared words make LSH bands collide the way a
    real vocabulary does."""
    rng = random.Random(seed)
    pool = sorted({_pseudo_word(rng) for _ in range(max(2, n_bases // 5))})
    bases: set[str] = set()
    while len(bases) < n_bases:
        bases.add(f"{rng.choice(pool)} {rng.choice(pool)}")
    terms = set(bases)
    planted = []
    for base in sorted(bases):
        if rng.random() >= 0.1:
            continue
        kind = rng.choice(("hyphen", "transposition", "substitution"))
        v = _variant(base, kind, rng)
        if v not in terms:
            terms.add(v)
            planted.append((v, base, kind))
    return sorted(terms), planted


def write_terms(terms: list[str], path: Path, files: int = 4) -> None:
    """The vocabulary as a Parquet table of one column, norm_term, in
    ``files`` files so that the scan has as many partitions as Spark's own
    write of it from local[4] would give."""
    path.mkdir(parents=True)
    step = -(-len(terms) // files)
    for i in range(files):
        part = pa.table({"norm_term": pa.array(terms[i * step:(i + 1) * step], pa.string())})
        pq.write_table(part, path / f"part-{i:05d}.parquet")
