"""Deduplication operators over a document corpus — the training-data-pipeline
tier: exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Everything except SimHash is pure Column expressions; SimHash packs 64 bits
per document inside an Arrow-batched pandas UDF (bit-bucketed popcount has no
clean expression form).

Scale posture: near-dup methods never do an unblocked cross join — MinHash
bands / SimHash prefix buckets / same-lang blocking turn O(n²) into
O(sum over buckets |b|²).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import (
    fingerprint,
    lsh_bands,
    minhash_signature,
    normalize_term,
    word_shingles,
)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicate group with the keeper
    (min id) and the group size. Reference analog: the exact-phase hash
    pre-grouping (entity_resolver.py:343-370) applied to whole documents."""
    return (
        docs
        .withColumn("fp", F.md5(normalize_term(F.col(text_col))))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def exact_dedup_keep_first(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """The deduplicated corpus itself (keeper rows only)."""
    w_fp = F.md5(normalize_term(F.col(text_col)))
    d = docs.withColumn("fp", w_fp)
    keep = d.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return d.join(keep, on=["fp", id_col]).drop("fp")


def _prefix_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact prefix-filtered candidate pairs (Bayardo/Chaudhuri all-pairs):
    order each document's shingles by (block-local document frequency asc,
    shingle) — a global total order per block — and index only the first
    p = n − ⌈t·n⌉ + 1 of them. For any pair with J ≥ t, the SMALLEST common
    shingle under that order must sit in BOTH prefixes (if every common
    shingle missed A's prefix, the overlap i ≤ ⌈t·n_a⌉−1 < t·n_a ≤ t·|A∪B|
    ⟹ J < t; symmetric for B), so joining prefixes loses nothing. The
    length-ratio bound (J ≥ t ⟹ min·1 ≥ t·max) prunes further; both bounds
    carry a 1e-9 slack so float rounding can only ADD candidates, never drop
    a qualifying pair. Input sh: (id, blk, sh array, n); output distinct
    (blk, id_a, id_b)."""
    tok = sh.select("id", "blk", "n", F.explode("sh").alias("s"))
    dfreq = tok.groupBy("blk", "s").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("blk", "id").orderBy("df", "s")
    p = (F.col("n")
         - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)).cast("int")
         + F.lit(1))
    pref = (tok.join(dfreq, ["blk", "s"])
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= p)
            .select("blk", "s", "id", "n"))
    a, b = pref.alias("a"), pref.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.s") == F.col("b.s"))
               & (F.col("a.id") < F.col("b.id")))
        .filter(F.least("a.n", "b.n").cast("double")
                >= F.lit(threshold) * F.greatest("a.n", "b.n") - F.lit(1e-9))
        .select(F.col("a.blk").alias("blk"),
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "lang",
    brute: bool = False,
) -> DataFrame:
    """All near-duplicate pairs by exact k-word-shingle Jaccard (the
    correctness baseline the MinHash variant is validated against).

    Candidate generation is prefix-filtered (_prefix_candidates): exact —
    provably no qualifying pair is lost — but no longer block-quadratic, so
    a single dominant block (one-language corpus) stops being an O(n²)
    straggler. brute=True restores the all-pairs within-block self-join
    (tests pin brute ≡ prefix on real corpora). Both paths score survivors
    with the identical array_intersect/array_union expression."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        (F.col(block_col) if block_col else F.lit("all")).alias("blk"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
    ).withColumn("n", F.size("sh"))
    jac = (F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
           / F.size(F.array_union("a.sh", "b.sh")))
    a, b = sh.alias("a"), sh.alias("b")
    if brute:
        pairs = (
            a.join(b, F.col("a.blk") == F.col("b.blk"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    jac.alias("jaccard"))
        )
    else:
        cand = _prefix_candidates(sh, threshold).select(
            F.col("blk").alias("c_blk"), "id_a", "id_b")
        pairs = (
            cand.join(a, (F.col("a.id") == F.col("id_a"))
                      & (F.col("a.blk") == F.col("c_blk")))
            .join(b, (F.col("b.id") == F.col("id_b"))
                  & (F.col("b.blk") == F.col("c_blk")))
            .select("id_a", "id_b", jac.alias("jaccard"))
        )
    return pairs.filter(F.col("jaccard") >= threshold) \
                .withColumn("jaccard", F.round("jaccard", 6))


def minhash_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    k: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    pre_collapse_exact: bool = True,
    bucket_cap: int | None = 2000,
) -> DataFrame:
    """MinHash+LSH near-dup: shingle → minhash → band → bucket-join →
    exact-Jaccard verify. The scale path: candidate generation is linear in
    corpus size + bucket-local joins.

    Degenerate-bucket guards (both needed at corpus scale):
      pre_collapse_exact — byte-identical texts collapse to one representative
          (min id) BEFORE hashing, so a flood of g identical documents costs
          O(g) instead of g² candidate rows; pairs are emitted between distinct
          texts only (exact duplicates belong to the exact-dedup pass).
      bucket_cap — a band bucket larger than this is dropped from candidate
          generation (a bucket of size s costs s² candidate rows; buckets this
          hot are near-certainly degenerate shingle patterns). Deterministic;
          sized to never trigger on healthy data (cap² row budget is what you
          are protecting the shuffle from).

    Semantics changelog: since the guards landed (round 2), the default
    output is pairs BETWEEN DISTINCT NORMALIZED TEXTS only — J=1.0 pairs
    inside an exact-duplicate group are not emitted (run exact_duplicates
    for those), and pairs whose every shared band bucket exceeds bucket_cap
    are dropped. Pass pre_collapse_exact=False, bucket_cap=None for the
    pre-round-2 all-pairs behavior."""
    base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    if pre_collapse_exact:
        fp = F.md5(normalize_term(F.col("t")))
        base = (base.withColumn("fp", fp)
                .groupBy("fp").agg(F.min_by("t", "id").alias("t"),
                                   F.min("id").alias("id"))
                .drop("fp"))
    sh = base.select(
        "id", F.array_distinct(word_shingles(F.col("t"), k)).alias("sh"),
    ).persist()
    # bands stay NARROW (id + band key only) — the shingle arrays would be
    # replicated x num_bands through the explode and the bucket shuffle
    bands = sh.withColumn("sig", minhash_signature("sh", num_hashes)) \
        .select("id", F.posexplode(lsh_bands("sig", num_hashes, num_bands))
                .alias("band_idx", "band_hash"))
    if bucket_cap is not None:
        sizes = bands.groupBy("band_idx", "band_hash").agg(
            F.count(F.lit(1)).alias("_bn"))
        bands = bands.join(sizes.filter(F.col("_bn") <= bucket_cap),
                           on=["band_idx", "band_hash"]).drop("_bn")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    j = (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
         / F.size(F.array_union("sh_a", "sh_b")))
    return cand.withColumn("jaccard", F.round(j, 6)) \
               .filter(F.col("jaccard") >= threshold) \
               .select("id_a", "id_b", "jaccard")


_SIMHASH_OUT = T.StructType([T.StructField("simhash", T.LongType())])


@F.pandas_udf(T.LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens (numpy-vectorized bit accumulation)."""
    import hashlib

    def one(t: str) -> int:
        if not t:
            return 0
        acc = np.zeros(64, dtype=np.int64)
        for w in t.lower().split():
            h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
            bits = np.unpackbits(
                np.frombuffer(h.to_bytes(8, "big"), dtype=np.uint8)).astype(np.int64)
            acc += bits * 2 - 1
        out = np.packbits((acc >= 0).astype(np.uint8)).tobytes()
        return int.from_bytes(out, "big", signed=True)

    return texts.map(one)


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    pre_collapse_identical: bool = True,
    block_cap: int | None = 2000,
) -> DataFrame:
    """SimHash near-dup: 64-bit signature, candidates = equal bit-block bucket,
    verified by exact Hamming distance.

    Pigeonhole guarantee: if two signatures differ in <= max_hamming bits and
    the 64 bits are cut into max_hamming+1 blocks, some block is identical —
    so blocking loses NO pair within the radius. Block count adapts to the
    requested radius (4x16-bit blocks for max_hamming<=3, 8x8-bit for <=7);
    radii above 7 are refused rather than silently losing recall.

    Degenerate-bucket guards (same pair as minhash_near_dup_pairs — without
    them a flood of empty/near-identical texts all hashing to one signature
    makes every block match and the block self-join go s²):
      pre_collapse_identical — identical 64-bit signatures collapse to one
          representative (min id) BEFORE blocking: a flood of g signature
          clones costs O(g), not g² candidate rows. Hamming-0 pairs inside a
          clone group are therefore NOT emitted (they are exact-dedup
          territory); pairs are between distinct signatures only.
      block_cap — a block bucket larger than this is dropped from candidate
          generation (deterministic; sized to never trigger on healthy data)."""
    if max_hamming <= 3:
        n_blocks, width = 4, 16
    elif max_hamming <= 7:
        n_blocks, width = 8, 8
    else:
        raise ValueError(
            f"max_hamming={max_hamming} > 7: 8-bit blocks can only guarantee "
            "recall up to hamming 7; use MinHash for looser matching")
    mask = (1 << width) - 1
    s = docs.select(F.col(id_col).alias("id"),
                    simhash64_udf(F.col(text_col)).alias("sim"))
    if pre_collapse_identical:
        s = s.groupBy("sim").agg(F.min("id").alias("id"))
    blocks = s.select(
        "id", "sim",
        F.posexplode(F.array(*[
            F.shiftright("sim", width * i).bitwiseAND(F.lit(mask))
            for i in range(n_blocks)
        ])).alias("block_idx", "block_val"),
    )
    if block_cap is not None:
        sizes = blocks.groupBy("block_idx", "block_val").agg(
            F.count(F.lit(1)).alias("_bn"))
        blocks = blocks.join(sizes.filter(F.col("_bn") <= block_cap),
                             on=["block_idx", "block_val"]).drop("_bn")
    a, b = blocks.alias("a"), blocks.alias("b")
    xor = F.col("a.sim").bitwiseXOR(F.col("b.sim"))
    return (
        a.join(b, on=["block_idx", "block_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.bit_count(xor).alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    embs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    num_planes: int = 12,
    num_bands: int = 16,
) -> DataFrame:
    """Embedding-cosine near-dup over array<float> — JVM-side zip_with dot.

    method='lsh' (default, the scale path): banded sign-random-projection
    blocking — each vector lands in num_bands buckets (one per independent
    num_planes-bit band); candidates share a bucket in ANY band; exact cosine
    verifies. A pair at cosine c survives a band with p = (1-acos(c)/pi)^planes
    and is missed with (1-p)^bands — at the 0.95 default that is ~0.005 with
    (12, 16); candidate volume is O(bands * sum of bucket^2), never O(n²).

    method='brute': the all-pairs crossJoin — correctness baseline for tests
    and tiny corpora only (O(n²) pairs: a 10^8-vector corpus is 10^16 rows)."""
    from ..functions.vectors import cosine, lsh_bucket

    v = embs.select(F.col(id_col).alias("id"),
                    F.col(vec_col).cast("array<double>").alias("v"))
    if method == "brute":
        a, b = v.alias("a"), v.alias("b")
        cand = a.crossJoin(b).filter(F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"), F.col("b.v").alias("vb"))
    elif method == "lsh":
        vp = v.persist()
        # narrow bucket rows (id + band + bucket only); vectors re-joined
        # after candidate dedup — same discipline as the MinHash band join
        buckets = vp.select("id", F.posexplode(F.array(*[
            lsh_bucket(F.col("v"), num_planes, seed=7001 + band)
            for band in range(num_bands)
        ])).alias("band", "bucket"))
        a, b = buckets.alias("a"), buckets.alias("b")
        cand = (
            a.join(b, on=["band", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .join(vp.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
            .join(vp.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        )
    else:
        raise ValueError(f"unknown method {method!r} (want 'lsh' or 'brute')")
    return (
        cand.select("id_a", "id_b",
                    F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact SUBSTRING-level dedup: maximal token spans (length >= n words)
    that occur verbatim in >= min_docs distinct documents — the span-granular
    counterpart of document-level exact dedup (a training corpus can be 0%
    doc-duplicated yet still repeat the same boilerplate paragraph in half
    its pages; span dedup is what finds the paragraph).

    Method: slide an n-token window over each document (the shared
    _corpus_words tokenization), hash each window to a 64-bit md5 prefix,
    keep window positions whose hash occurs in >= min_docs docs, then merge
    runs of consecutive duplicated positions into maximal spans
    (gaps-and-islands per doc: pos - row_number() is constant on a run).
    Returns (doc_id, span_start, span_end, span_tokens), token positions
    1-based inclusive.

    Scale posture: only (doc_id, pos, hash64) rows shuffle — never gram
    text; the duplicate-hash set aggregates with map-side partials and is
    semi-joined back (no row widening); the island merge is one window per
    doc partition. Within-doc repeats don't count toward min_docs (distinct
    doc count), so a single degenerate document can't flood the dup set.
    """
    if n < 2:
        raise ValueError(f"n={n}: span windows need at least 2 tokens")
    from .text_analysis import _corpus_words

    w = (docs.select(F.col(id_col).alias("doc_id"),
                     _corpus_words(F.col(text_col)).alias("ws"))
         .filter(F.size("ws") >= n))
    # one narrow (pos, hash64) row per window — built as an array column and
    # exploded so the text is scanned once, slice/concat all codegen'd
    grams = w.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("ws") - (n - 1)),
            lambda i: F.substring(
                F.md5(F.concat_ws(" ", F.slice(F.col("ws"), i, n))), 1, 16),
        )).alias("pos0", "hh"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "hh")
    dup = (grams.groupBy("hh")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= min_docs)
           .select("hh"))
    hits = grams.join(dup, "hh", "left_semi")
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("pos"))
    runs = hits.select("doc_id", "pos", (F.col("pos") - rn).alias("grp"))
    return (runs.groupBy("doc_id", "grp")
            .agg(F.min("pos").cast("long").alias("span_start"),
                 (F.max("pos") + (n - 1)).cast("long").alias("span_end"),
                 (F.max("pos") - F.min("pos") + n).cast("long")
                 .alias("span_tokens"))
            .drop("grp"))


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "lang",
    brute: bool = False,
) -> DataFrame:
    """ASYMMETRIC containment near-dup: C(A→B) = |sh(A)∩sh(B)| / |sh(A)| —
    the sub-document duplication detector symmetric Jaccard misses (a
    paragraph quoted inside a much longer doc has near-zero J but
    containment ≈ 1; exactly the failure mode of boilerplate inclusion and
    doc-in-doc scrapes in training corpora). Emits DIRECTIONAL rows
    (id_sub, id_super, containment ≥ t).

    Candidate generation is prefix-filtered on the CONTAINED side only:
    if C(A→B) ≥ t then ≥ ⌈t·n_a⌉ of A's shingles are common, so at least
    one common shingle sits among A's first p = n_a − ⌈t·n_a⌉ + 1 shingles
    in (block df asc, shingle) order — joining A-prefixes to B's FULL
    postings loses nothing, and there is deliberately NO length-ratio
    bound (the asymmetry is the point). Exact: survivors are rescored
    with the true array_intersect count. brute=True restores the
    within-block all-pairs join (tests pin brute ≡ prefix).

    Scale shape: the prefix side indexes ~(1−t)·n_a shingles per doc —
    the rarest ones, so postings lists stay short; the B side is the
    full postings table, pruned per-block. A stop-shingle flood on the
    B side is bounded by that shingle's df within the block."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        (F.col(block_col) if block_col else F.lit("all")).alias("blk"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
    ).withColumn("n", F.size("sh")).filter(F.col("n") > 0)
    cont = (F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
            / F.col("a.n"))
    a, b = sh.alias("a"), sh.alias("b")
    if brute:
        pairs = (
            a.join(b, F.col("a.blk") == F.col("b.blk"))
            .filter(F.col("a.id") != F.col("b.id"))
            .select(F.col("a.id").alias("id_sub"),
                    F.col("b.id").alias("id_super"),
                    cont.alias("containment"))
        )
    else:
        tok = sh.select("id", "blk", "n", F.explode("sh").alias("s"))
        dfreq = tok.groupBy("blk", "s").agg(F.count(F.lit(1)).alias("df"))
        w = Window.partitionBy("blk", "id").orderBy("df", "s")
        p = (F.col("n")
             - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)).cast("int")
             + F.lit(1))
        pref = (tok.join(dfreq, ["blk", "s"])
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= p)
                .select("blk", "s", F.col("id").alias("id_sub")))
        cand = (pref.join(tok.select("blk", "s",
                                     F.col("id").alias("id_super")),
                          ["blk", "s"])
                .filter(F.col("id_sub") != F.col("id_super"))
                .select(F.col("blk").alias("c_blk"),
                        "id_sub", "id_super").distinct())
        pairs = (
            cand.join(a, (F.col("a.id") == F.col("id_sub"))
                      & (F.col("a.blk") == F.col("c_blk")))
            .join(b, (F.col("b.id") == F.col("id_super"))
                  & (F.col("b.blk") == F.col("c_blk")))
            .select("id_sub", "id_super", cont.alias("containment"))
        )
    return pairs.filter(F.col("containment") >= threshold) \
                .withColumn("containment", F.round("containment", 6))


def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int = 4,
    prefix_len: int = 32,
    q: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "lang",
    brute: bool = False,
) -> DataFrame:
    """All pairs whose leading `prefix_len` characters are within Levenshtein
    distance `max_dist` — the typo/near-rewrite tier of near-dup that shingle
    Jaccard misses (a 2-char edit barely moves word-shingle overlap but is
    exactly what plagiarized-with-typos or OCR-jittered duplicates look like).
    Reference analog: the resolver's similarity-merge stage
    (entity_resolver.py:383-420) applies fuzzy matching to entity names; this
    is the same capability lifted to document keys.

    Candidate generation is an exact positional q-gram prefix filter
    (Gravano et al., "Approximate String Joins in a Database", VLDB 2001,
    composed with the Bayardo prefix-filter order dedup.py already uses for
    Jaccard): a string of length L has L−q+1 overlapping q-grams counted
    WITH multiplicity as (gram, occurrence-index) elements, and one edit
    operation destroys at most q of them, so ED(a,b) ≤ k implies the two
    multisets share ≥ max(La,Lb)−q+1−k·q elements — each side can miss at
    most k·q of its own grams. Order every document's elements by (global
    gram frequency asc, gram, occ): any qualifying pair must then collide
    inside the first k·q+1 elements of BOTH sides (if all common elements
    missed A's prefix, A would miss > k·q of them). Joining only those
    rare-gram prefixes keeps candidates proportional to rare-gram
    collisions, never O(n²) per block; survivors are verified with the
    exact JVM levenshtein. Also applies the |La−Lb| ≤ k length bound
    (ED ≥ length difference). brute=True restores the all-pairs
    within-block self-join for tests.

    Output: (id_a, id_b, blk, edit_dist) for every qualifying pair,
    id_a < id_b. 100-TB posture: gram rows are |docs|·(prefix_len−1),
    the join key (blk, gram, occ) spreads hot grams across occurrence
    indexes, and the prefix filter bounds fan-out by rare-gram df.
    """
    blk = F.col(block_col) if block_col else F.lit("_")
    d = docs.select(
        F.col(id_col).alias("id"), blk.alias("blk"),
        F.substring(F.col(text_col), 1, prefix_len).alias("p"),
    ).withColumn("ln", F.length("p"))
    a, b = d.alias("a"), d.alias("b")
    ldist = F.levenshtein(F.col("a.p"), F.col("b.p"))
    lenok = (F.abs(F.col("a.ln") - F.col("b.ln")) <= max_dist)
    if brute:
        return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                       & (F.col("a.id") < F.col("b.id")))
                .filter(lenok & (ldist <= max_dist))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"),
                        F.col("a.blk").alias("blk"),
                        ldist.cast("long").alias("edit_dist")))
    grams = (
        d.select("id", "blk",
                 F.posexplode(F.expr(
                     f"transform(sequence(1, length(p) - {q - 1}),"
                     f" i -> substring(p, i, {q}))")).alias("i", "g"))
    )
    occ = grams.withColumn(
        "occ", F.row_number().over(
            Window.partitionBy("id", "g").orderBy("i"))).drop("i")
    dfreq = occ.groupBy("blk", "g", "occ").agg(
        F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g", "occ")
    pref = (occ.join(dfreq, ["blk", "g", "occ"])
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_dist * q + 1)
            .select("blk", "g", "occ", "id"))
    pa, pb = pref.alias("pa"), pref.alias("pb")
    cand = (pa.join(pb, (F.col("pa.blk") == F.col("pb.blk"))
                    & (F.col("pa.g") == F.col("pb.g"))
                    & (F.col("pa.occ") == F.col("pb.occ"))
                    & (F.col("pa.id") < F.col("pb.id")))
            .select(F.col("pa.id").alias("id_a"),
                    F.col("pb.id").alias("id_b")).distinct())
    return (cand.join(a, F.col("a.id") == F.col("id_a"))
            .join(b, (F.col("b.id") == F.col("id_b"))
                  & (F.col("b.blk") == F.col("a.blk")))
            .filter(lenok & (ldist <= max_dist))
            .select("id_a", "id_b", F.col("a.blk").alias("blk"),
                    ldist.cast("long").alias("edit_dist")))


@F.pandas_udf(T.LongType())
def _damerau_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """True (unrestricted) Damerau-Levenshtein distance, Lowrance-Wagner
    alphabet-indexed DP — transpositions cost 1 and edited substrings may
    be edited again (OSA would forbid that; DuckDB's damerau_levenshtein
    is the true variant, pinned by the oracle and by
    test_damerau_matches_duckdb)."""
    def dl(s: str, t: str) -> int:
        la, lb = len(s), len(t)
        maxd = la + lb
        da: dict[str, int] = {}
        d = [[0] * (lb + 2) for _ in range(la + 2)]
        d[0][0] = maxd
        for i in range(la + 1):
            d[i + 1][0] = maxd
            d[i + 1][1] = i
        for j in range(lb + 1):
            d[0][j + 1] = maxd
            d[1][j + 1] = j
        for i in range(1, la + 1):
            db = 0
            for j in range(1, lb + 1):
                k = da.get(t[j - 1], 0)
                l = db
                if s[i - 1] == t[j - 1]:
                    cost = 0
                    db = j
                else:
                    cost = 1
                d[i + 1][j + 1] = min(
                    d[i][j] + cost,          # substitute / match
                    d[i + 1][j] + 1,         # insert
                    d[i][j + 1] + 1,         # delete
                    d[k][l] + (i - k - 1) + 1 + (j - l - 1))  # transpose
            da[s[i - 1]] = i
        return d[la + 1][lb + 1]

    return pd.Series([dl(x, y) for x, y in zip(a, b)], dtype="int64")


def damerau_pairs(
    docs: DataFrame,
    max_dist: int = 3,
    prefix_len: int = 24,
    q: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = "lang",
    brute: bool = False,
) -> DataFrame:
    """All pairs whose leading `prefix_len` characters are within TRUE
    Damerau-Levenshtein distance `max_dist` — the transposition-aware tier
    of typo near-dup (swapped adjacent characters are the single most common
    human typo class, and plain Levenshtein charges them double).

    Candidate generation reuses the positional q-gram multiset filter of
    edit_distance_pairs with the transposition-adjusted budget: a
    substitution/insert/delete changes at most q overlapping q-gram slots,
    an adjacent transposition at most q+1 (the grams spanning the swapped
    pair), so DL(a,b) ≤ k implies the (gram, occurrence) multisets share
    ≥ max(La,Lb)−q+1−k·(q+1) elements and any qualifying pair collides in
    the first k·(q+1)+1 rarest-first elements of both sides (same Bayardo
    argument; exactness pinned by test_damerau_prefix_filter_equals_brute).
    The |La−Lb| ≤ k length bound still holds (DL ≥ length difference).
    Survivors are verified by the exact Lowrance-Wagner DP in an
    Arrow-batched pandas UDF.

    Output: (id_a, id_b, blk, dl_dist), id_a < id_b. 100-TB posture:
    identical to edit_distance_pairs — gram rows linear in corpus size,
    rare-gram collisions bound the join fan-out, never O(n²) per block.
    """
    blk = F.col(block_col) if block_col else F.lit("_")
    d = docs.select(
        F.col(id_col).alias("id"), blk.alias("blk"),
        F.substring(F.col(text_col), 1, prefix_len).alias("p"),
    ).withColumn("ln", F.length("p"))
    a, b = d.alias("a"), d.alias("b")
    dist = _damerau_udf(F.col("a.p"), F.col("b.p"))
    lenok = (F.abs(F.col("a.ln") - F.col("b.ln")) <= max_dist)
    if brute:
        return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                       & (F.col("a.id") < F.col("b.id")))
                .filter(lenok)
                .withColumn("dl_dist", dist)
                .filter(F.col("dl_dist") <= max_dist)
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"),
                        F.col("a.blk").alias("blk"), "dl_dist"))
    budget = max_dist * (q + 1)
    grams = (
        d.select("id", "blk",
                 F.posexplode(F.expr(
                     f"transform(sequence(1, length(p) - {q - 1}),"
                     f" i -> substring(p, i, {q}))")).alias("i", "g"))
    )
    occ = grams.withColumn(
        "occ", F.row_number().over(
            Window.partitionBy("id", "g").orderBy("i"))).drop("i")
    dfreq = occ.groupBy("blk", "g", "occ").agg(
        F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g", "occ")
    pref = (occ.join(dfreq, ["blk", "g", "occ"])
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= budget + 1)
            .select("blk", "g", "occ", "id"))
    pa, pb = pref.alias("pa"), pref.alias("pb")
    cand = (pa.join(pb, (F.col("pa.blk") == F.col("pb.blk"))
                    & (F.col("pa.g") == F.col("pb.g"))
                    & (F.col("pa.occ") == F.col("pb.occ"))
                    & (F.col("pa.id") < F.col("pb.id")))
            .select(F.col("pa.id").alias("id_a"),
                    F.col("pb.id").alias("id_b")).distinct())
    # Verify in two tiers: a codegen'd JVM levenshtein kills every pair
    # with Lev > 2k first (each DL transposition costs at most 2 Lev ops,
    # so DL ≤ k ⟹ Lev ≤ 2k — a necessary condition), and only the
    # survivors pay the Python DP. The explicit repartition matters: the
    # surviving pair set is tiny in BYTES, so AQE would coalesce it to one
    # partition — but the pandas-UDF cost is per-row CPU, and one task
    # would serialize the whole verify.
    sc = docs.sparkSession.sparkContext
    return (cand.join(a, F.col("a.id") == F.col("id_a"))
            .join(b, (F.col("b.id") == F.col("id_b"))
                  & (F.col("b.blk") == F.col("a.blk")))
            .filter(lenok
                    & (F.levenshtein(F.col("a.p"), F.col("b.p"))
                       <= 2 * max_dist))
            .repartition(sc.defaultParallelism, "id_a", "id_b")
            .withColumn("dl_dist", dist)
            .filter(F.col("dl_dist") <= max_dist)
            .select("id_a", "id_b", F.col("a.blk").alias("blk"), "dl_dist"))


@F.pandas_udf(T.DoubleType())
def _jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaro-Winkler similarity (standard constants: scaling 0.1, max
    prefix 4, Winkler boost only when Jaro > 0.7; both-empty → 0.0,
    matching DuckDB's convention). Pure-Python float64 arithmetic in the
    canonical term order — bit-identical to DuckDB's
    jaro_winkler_similarity on every tested input
    (test_jaro_winkler_matches_duckdb)."""
    def jaro(s: str, t: str) -> float:
        la, lb = len(s), len(t)
        if la == 0 or lb == 0:
            return 0.0
        win = max(max(la, lb) // 2 - 1, 0)
        bm = [False] * lb
        am = [False] * la
        m = 0
        for i, cs in enumerate(s):
            for j in range(max(0, i - win), min(lb, i + win + 1)):
                if not bm[j] and t[j] == cs:
                    bm[j] = am[i] = True
                    m += 1
                    break
        if m == 0:
            return 0.0
        tr = 0
        k = 0
        for i in range(la):
            if am[i]:
                while not bm[k]:
                    k += 1
                if s[i] != t[k]:
                    tr += 1
                k += 1
        tr //= 2
        return (m / la + m / lb + (m - tr) / m) / 3.0

    def jw(s: str, t: str) -> float:
        j = jaro(s, t)
        if j > 0.7:
            l = 0
            for x, y in zip(s[:4], t[:4]):
                if x != y:
                    break
                l += 1
            j = j + l * 0.1 * (1.0 - j)
        return j

    return pd.Series([jw(x, y) for x, y in zip(a, b)], dtype="float64")


def jaro_winkler_pairs(
    names: DataFrame,
    threshold: float = 0.92,
    id_col: str = "id",
    name_col: str = "name",
    block_cols: tuple[str, ...] = ("blk",),
) -> DataFrame:
    """Blocked fuzzy name-matching join: all pairs within the same block
    whose Jaro-Winkler similarity meets `threshold` — the classic
    record-linkage scorer (Winkler's census ER) for entity names, where
    edit distance over-penalizes short strings and Jaro-Winkler's
    common-prefix boost matches how product/person names actually drift.
    Reference analog: entity_resolver.py's similarity merge, lifted to a
    configurable blocked pair join.

    Blocking is part of the declared semantics (standard ER practice:
    compare only within cheap deterministic blocks), so both this plan and
    the oracle use the same block equi-join — never an unblocked cross
    join. An exact length-band prefilter is applied inside the block:
    JW ≥ t needs Jaro ≥ (t−0.4)/0.6 (the boost adds at most 0.4·(1−j)),
    and with m ≤ min(La,Lb) matches, Jaro ≤ (min/La + min/Lb + 1)/3, so
    min(La,Lb)/max(La,Lb) ≥ 3·(t−0.4)/0.6 − 2 (pinned by
    test_jw_length_band_is_exact). Scoring is an Arrow-batched pandas UDF.
    """
    jlo = 3.0 * (threshold - 0.4) / 0.6 - 2.0
    d = names.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.col(name_col).alias("nm"),
    ).withColumn("ln", F.length("nm")).filter(F.col("ln") > 0)
    a, b = d.alias("a"), d.alias("b")
    cond = (F.col("a.id") < F.col("b.id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    if jlo > 0:
        cond = cond & (F.least(F.col("a.ln"), F.col("b.ln"))
                       >= F.greatest(F.col("a.ln"), F.col("b.ln")) * jlo)
    return (a.join(b, cond)
            .withColumn("jw", _jaro_winkler_udf(F.col("a.nm"),
                                                F.col("b.nm")))
            .filter(F.col("jw") >= threshold)
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    *[F.col(f"a.{c}").alias(c) for c in block_cols],
                    "jw"))
