"""Stage 3 — CANONICALIZE: connected components via large-star / small-star.

Replaces the reference's in-memory Union-Find with path compression
(extraction/entity_resolver.py:285-304) with the iterative two-phase
DataFrame algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14) — the standard shared-nothing formulation the north rule
names. Node ids are the normalized term strings themselves (component root =
lexicographic min), so there is no 64-bit-hash collision risk at 10^12-turn
scale.

  large-star(u): for every neighbor v > u, connect v to m = min(Γ⁺(u))
  small-star(u): orient edges to (hi → lo); connect every lo-neighbor and u
                 itself to m = min(Γ⁺(u))

Each iteration is two groupBy-shuffles; convergence in O(log n) rounds.
Lineage is truncated every round with localCheckpoint — without it the plan
doubles per iteration and the driver dies long before the data does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import sql


def _large_star(e: DataFrame) -> DataFrame:
    und = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    grouped = und.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    m = F.array_min(F.array_union(F.col("nbrs"), F.array(F.col("src"))))
    return (
        grouped
        .select(F.col("src").alias("u"), m.alias("m"),
                F.explode(F.col("nbrs")).alias("v"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    oriented = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    grouped = oriented.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    m = F.array_min(F.col("nbrs"))  # all nbrs < src, so min(Γ⁺) = min(nbrs)
    return (
        grouped
        .select(F.col("src").alias("u"), m.alias("m"),
                F.explode(F.array_union(F.col("nbrs"), F.array(F.col("src")))).alias("v"))
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


DRIVER_CC_THRESHOLD = 1_000_000


def _driver_union_find(rows) -> list[tuple[str, str]]:
    """Union-find with path compression — the reference's own algorithm
    (entity_resolver.py:285-304 semantics), used only below
    DRIVER_CC_THRESHOLD edges. Roots are the lexicographic min of each
    component, matching the distributed algorithm exactly."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in parent]


def connected_components(edges: DataFrame, max_iter: int = 20,
                         driver_threshold: int = DRIVER_CC_THRESHOLD) -> DataFrame:
    """edges(src,dst) → assignments(norm_term, canon) for every node that
    appears in an edge; canon = lexicographic min of the component.

    Scale-adaptive (same spirit as broadcast-join selection): below
    driver_threshold edges the component graph trivially fits on the
    driver, where union-find finishes in milliseconds vs ~10 s of iteration
    scheduling — so small inputs take the driver path and large ones the
    large-star/small-star loop. Both produce identical (member, min-root)
    assignments (pinned by tests/test_link_canonicalize.py).

    Below the threshold the bounded collect is the only action; only the
    distributed path checkpoints. Its convergence: the small-star output is
    a star forest fixed point when its (count, checksum) stops changing —
    checksum is an order-insensitive bit_xor of row hashes, one tiny
    aggregate per round. Raises RuntimeError when max_iter rounds pass
    without that fixed point."""
    e = sql("SELECT DISTINCT src, dst FROM {edges} WHERE src != dst", edges=edges)
    rows = e.limit(driver_threshold + 1).collect()
    if len(rows) <= driver_threshold:
        return e.sparkSession.createDataFrame(
            _driver_union_find(rows), "norm_term string, canon string")

    e = e.localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e))
        e = e.localCheckpoint(eager=True)
        sig_row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "(no repeated (count, bit_xor) signature); the assignments would "
            "be silently wrong — raise max_iter")

    # Star forest: every edge is (member, root). Roots map to themselves.
    members = e.select(F.col("src").alias("norm_term"), F.col("dst").alias("canon"))
    roots = e.select(F.col("dst").alias("norm_term")).distinct() \
             .withColumn("canon", F.col("norm_term"))
    return members.unionByName(roots).distinct()


def canonicalize_stage(terms: DataFrame, candidate_edges: DataFrame) -> DataFrame:
    """All distinct terms → (norm_term, canon); isolated terms map to
    themselves via a left join against the CC assignments. Edges surfaced
    for adjudication (phase='ambiguous', minhash_candidate_edges's
    ambiguous_band) never merge here — only decided edges reach CC."""
    if "phase" in candidate_edges.columns:
        # null phase = decided (only the explicit 'ambiguous' tag is held
        # back; NULL != 'ambiguous' alone would silently drop null rows)
        candidate_edges = sql("SELECT * FROM {c} WHERE coalesce(phase != 'ambiguous', true)",
                              c=candidate_edges)
    cc = connected_components(candidate_edges)
    # vocabulary-sized and consumed by many downstream plan branches (every
    # build_nodes/build_edges aggregation joins it) — materialize once so the
    # distinct-terms scan in its lineage never re-runs per branch
    return sql("SELECT t.*, coalesce(c.canon, t.norm_term) AS canon "
               "FROM {terms} t LEFT JOIN {cc} c ON t.norm_term = c.norm_term",
               terms=terms, cc=cc).persist()
