"""Cardinality sketches: HLL raw estimate + small-range correction + KMV."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def ids5000(spark):
    return spark.range(5000).select(F.col("id").alias("k"),
                                    (F.col("id") % 2).alias("g"))


def test_hll_kmv_raw_regime(spark, ids5000):
    """5000 distinct keys, m=256 ⇒ raw HLL regime (n > 2.5·m). Standard
    error is 1.04/√256 ≈ 6.5%; assert within 4σ. KMV with k=64 has
    σ ≈ 1/√62 ≈ 12.7%; assert within 4σ."""
    from knowledge_extraction_pipeline_spark.operators.sketches import (
        hll_kmv_distinct,
    )
    row = hll_kmv_distinct(ids5000, "k").collect()[0]
    assert row["n_exact"] == 5000
    assert abs(row["hll_est"] - 5000) / 5000 < 0.26
    assert abs(row["kmv_est"] - 5000) / 5000 < 0.51
    assert 1 <= row["nonzero_registers"] <= 256
    assert 1 <= row["max_rank"] <= 57


def test_hll_kmv_grouped(spark, ids5000):
    from knowledge_extraction_pipeline_spark.operators.sketches import (
        hll_kmv_distinct,
    )
    rows = {r["g"]: r for r in
            hll_kmv_distinct(ids5000, "k", ["g"]).collect()}
    assert set(rows) == {0, 1}
    for g in (0, 1):
        assert rows[g]["n_exact"] == 2500
        assert abs(rows[g]["hll_est"] - 2500) / 2500 < 0.3


def test_hll_sketch_is_union_mergeable(spark, ids5000):
    """max() per register is idempotent/commutative: the sketch of the
    union equals the register-wise max of the halves' sketches — the
    property that makes HLL shuffle-free at scale."""
    from knowledge_extraction_pipeline_spark.operators.sketches import (
        hll_kmv_distinct,
    )
    whole = hll_kmv_distinct(ids5000, "k").collect()[0]
    halves = hll_kmv_distinct(ids5000, "k", ["g"]).collect()
    assert whole["max_rank"] == max(r["max_rank"] for r in halves)


def test_hll_small_range_correction(spark):
    """n=100 « 2.5·m ⇒ the raw estimator biases low; linear counting on the
    zero-register count recovers the cardinality within a few %."""
    from knowledge_extraction_pipeline_spark.operators.sketches import (
        hll_estimate_corrected,
        hll_kmv_distinct,
    )
    df = spark.range(100).select(F.col("id").alias("k"))
    row = hll_kmv_distinct(df, "k").collect()[0]
    corrected = hll_estimate_corrected(row["hll_est"],
                                       row["nonzero_registers"])
    assert abs(corrected - 100) / 100 < 0.15


def test_kmv_null_when_fewer_than_k(spark):
    """Groups with < kmv_k distinct keys have no k-th order statistic —
    kmv_est must be NULL, not a garbage extrapolation."""
    from knowledge_extraction_pipeline_spark.operators.sketches import (
        hll_kmv_distinct,
    )
    df = spark.range(10).select(F.col("id").alias("k"))
    row = hll_kmv_distinct(df, "k").collect()[0]
    assert row["kmv_est"] is None
    assert row["n_exact"] == 10


def test_hll_matches_duckdb_oracle(spark, ids5000):
    """The hll_sql() mirror produces the identical register rollup and
    estimates in DuckDB (the cross-engine recipe end-to-end, without
    waiting for the driver gate)."""
    import duckdb

    from knowledge_extraction_pipeline_spark.operators.sketches import (
        hll_kmv_distinct,
        hll_sql,
    )
    got = {r["g"]: r for r in hll_kmv_distinct(ids5000, "k", ["g"]).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, range % 2 AS g "
                "FROM range(5000)")
    for g, n, h, kv, nz, mr in con.execute(
            hll_sql("t", "k", ["g"])).fetchall():
        assert got[g]["n_exact"] == n
        assert got[g]["hll_est"] == pytest.approx(h, abs=0)
        assert got[g]["kmv_est"] == pytest.approx(kv, abs=0)
        assert got[g]["nonzero_registers"] == nz
        assert got[g]["max_rank"] == mr


def test_cms_overestimates_only_and_is_tight_for_heavy_keys(spark):
    """CMS never underestimates; with 4×256 cells and a tiny key universe
    the probe estimates equal the exact counts (no collisions to inflate)."""
    from knowledge_extraction_pipeline_spark.operators.sketches import (
        cms_estimate,
    )
    from pyspark.sql import functions as F
    df = spark.range(1000).select(
        F.concat(F.lit("k"), (F.col("id") % 7)).alias("tok"))
    probes = [f"k{i}" for i in range(7)] + ["absent"]
    rows = {r["key"]: r for r in cms_estimate(df, "tok", probes).collect()}
    assert set(rows) == set(probes)
    for k, r in rows.items():
        assert r["cms_count"] >= r["exact_count"]
    assert rows["absent"]["exact_count"] == 0
    # 8 distinct keys into 256 buckets x 4 rows: min over rows is exact
    # unless all 4 rows collide — vanishingly unlikely and deterministic;
    # assert exactness to pin the hash recipe.
    for i in range(7):
        assert rows[f"k{i}"]["cms_count"] == rows[f"k{i}"]["exact_count"]


def test_cms_matches_duckdb_oracle(spark):
    import duckdb

    from knowledge_extraction_pipeline_spark.operators.sketches import (
        cms_estimate,
        cms_sql,
    )
    from pyspark.sql import functions as F
    df = spark.range(500).select(
        F.concat(F.lit("w"), (F.col("id") % 13)).alias("tok"))
    probes = ["w0", "w5", "w12", "nope"]
    got = {r["key"]: (r["exact_count"], r["cms_count"])
           for r in cms_estimate(df, "tok", probes).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT 'w' || (range % 13) AS tok "
                "FROM range(500)")
    for key, ex, cm, d, w in con.execute(cms_sql("t", "tok", probes)).fetchall():
        assert got[key] == (ex, cm)


def test_hll_sql_ungrouped_path(spark, ids5000):
    """The group-less SQL mirror (empty GROUP BY / ON 1=1 join branches)
    must also match the Spark sketch exactly."""
    import duckdb

    from knowledge_extraction_pipeline_spark.operators.sketches import (
        hll_kmv_distinct,
        hll_sql,
    )
    got = hll_kmv_distinct(ids5000, "k").collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k FROM range(5000)")
    n, h, kv, nz, mr = con.execute(hll_sql("t", "k")).fetchall()[0]
    assert (got["n_exact"], got["nonzero_registers"], got["max_rank"]) == (n, nz, mr)
    assert got["hll_est"] == h
    assert got["kmv_est"] == kv


def test_kmv_jaccard_estimate_tracks_exact(spark):
    from knowledge_extraction_pipeline_spark.operators.sketches import kmv_jaccard

    # A = 0..599, B = 300..899 -> |inter| = 300, |union| = 900, J = 1/3
    rows = ([("A", i) for i in range(600)]
            + [("B", i) for i in range(300, 900)])
    df = spark.createDataFrame(rows, ["grp", "uid"])
    out = kmv_jaccard(df, "uid", "grp", k=64).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["type_a"], r["type_b"]) == ("A", "B")
    assert r["n_a"] == 600 and r["n_b"] == 600 and r["n_inter"] == 300
    assert r["jacc_exact_e6"] == 333_333
    # KMV with k=64: std err ~ J*sqrt((1-J)/k) ~ 0.04; allow 4 sigma
    assert abs(r["jacc_kmv_e6"] / 1e6 - 1 / 3) < 0.17


def test_kmv_jaccard_disjoint_groups_zero(spark):
    from knowledge_extraction_pipeline_spark.operators.sketches import kmv_jaccard

    rows = [("A", i) for i in range(50)] + [("B", i) for i in range(100, 150)]
    df = spark.createDataFrame(rows, ["grp", "uid"])
    r = kmv_jaccard(df, "uid", "grp", k=32).collect()[0]
    assert r["n_inter"] == 0
    assert r["jacc_exact_e6"] == 0 and r["jacc_kmv_e6"] == 0


def test_gk_quantiles_invariant_and_probe_guarantee(spark):
    """GK summary: invariant max(g+d) <= 2*eps*N holds on every final
    tuple, probes sit within eps*N of the requested rank (audited
    against exact ranks recomputed here), and the summary is an order
    of magnitude smaller than the stream."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES, _t
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["sketch_gk_quantiles"](spark, sf).collect()
    assert all(r["invariant_ok"] for r in rows)
    assert all(r["q50_ok"] and r["q90_ok"] and r["q99_ok"] for r in rows)
    assert rows[0]["summary_size"] == len(rows) <= 80  # ~O(1/eps) vs 400
    # rmin/rmax are consistent rank bounds ending at N
    rs = sorted(rows, key=lambda r: r["i"])
    assert rs[-1]["rmin"] == 400
    assert all(a["rmin"] < b["rmin"] for a, b in zip(rs, rs[1:]))
    # independent exact-rank audit of the p50 answer
    xs = sorted(
        r["v"] for r in _t(spark, sf, "events").orderBy("event_id")
        .limit(400)
        .select(F.floor(F.col("value") * 100 + 0.5).cast("long")
                .alias("v")).collect())
    v = rs[0]["q50_v"]
    lt = sum(1 for y in xs if y < v)
    le = sum(1 for y in xs if y <= v)
    assert lt + 1 <= 200 + 20 and le >= 200 - 20


def test_misra_gries_merge_bounds(spark):
    """Mergeable MG summary: <= k counters, every counter an
    underestimate within n/(k+1) of the exact count (recomputed here
    independently), and no word above the n/(k+1) frequency bar missing."""
    from collections import Counter

    from knowledge_extraction_pipeline_spark.queries import QUERIES, _t

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["sketch_misra_gries_merge"](spark, sf).collect()
    assert 1 <= len(rows) <= 8
    assert all(r["underestimate_ok"] and r["error_ok"]
               and r["no_missed_heavy"] for r in rows)
    # independent exact recount
    texts = [r["text"] for r in
             _t(spark, sf, "documents").select("text").collect()]
    cnt = Counter(w for t in texts for w in t.split(" ") if w)
    n = sum(cnt.values())
    assert rows[0]["n"] == n
    for r in rows:
        assert r["true_cnt"] == cnt[r["word"]]
        assert r["est"] <= r["true_cnt"]
        assert r["true_cnt"] - r["est"] <= n // 9
    # completeness, re-derived: every word with cnt*9 > n is present
    heavy = {w for w, c in cnt.items() if c * 9 > n}
    assert heavy <= {r["word"] for r in rows}


def test_dgim_closed_form_equals_literal_cascade(spark):
    """The canonical lazy-counter decomposition the query computes must
    equal a LITERAL DGIM simulation (prepend bucket of size 1, merge the
    two oldest whenever a size has three buckets), timestamp for
    timestamp."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES, _t
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["sketch_dgim_window"](spark, sf).collect()
    assert all(r["span_ok"] for r in rows)
    for tag in ("w10", "w4", "w2", "w1"):
        assert all(r[f"{tag}_ok"] for r in rows)
    # literal cascade simulation over the same bit stream
    ev = (_t(spark, sf, "events").orderBy("event_id")
          .select((F.col("value") >= 50).alias("b")).collect())
    buckets = []  # newest first: (ts, size)
    for p, r in enumerate(ev, start=1):
        if not r["b"]:
            continue
        buckets.insert(0, (p, 1))
        s = 1
        while sum(1 for _, sz in buckets if sz == s) > 2:
            olds = [i for i, (_, sz) in enumerate(buckets) if sz == s]
            i2, i1 = olds[-1], olds[-2]  # two oldest of this size
            merged = (buckets[i1][0], 2 * s)  # keep newer timestamp
            buckets = [b for i, b in enumerate(buckets)
                       if i not in (i1, i2)]
            # reinsert keeping newest-first (ts descending) order
            buckets.append(merged)
            buckets.sort(key=lambda b: -b[0])
            s *= 2
    sim = sorted((sz, ts) for ts, sz in buckets)
    got = sorted((r["size"], r["ts"]) for r in rows)
    assert sim == got
    # exactly 1 or 2 buckets of each present size (the DGIM invariant)
    from collections import Counter
    per_size = Counter(sz for sz, _ in sim)
    assert all(1 <= c <= 2 for c in per_size.values())


def test_cuckoo_filter_no_false_negatives_and_involution(spark):
    from knowledge_extraction_pipeline_spark.queries import QUERIES

    rows = QUERIES["sketch_cuckoo_filter"](spark,
                                           "/root/testdata/sf0.001")
    rs = rows.collect()
    assert len(rs) == 200
    # THE filter guarantee: zero false negatives
    assert all(r["found"] for r in rs)
    # partial-key trick: either bucket recovers the other
    assert all(r["involution_ok"] for r in rs)
    # every item landed somewhere: slots_used + kicked-out... the table
    # holds exactly the 200 inserted fingerprints (no loss at 78% load)
    assert rs[0]["slots_used"] == 200
    assert rs[0]["slots_used"] <= 256
    # fp rate over 200 disjoint probes stays near the 2s/2^b theory
    assert rs[0]["neg_tested"] == 200
    assert rs[0]["neg_false_pos"] <= 20
    # fingerprints are 8-bit nonzero; buckets in range
    assert all(1 <= r["fp"] <= 255 for r in rs)
    assert all(0 <= r["i1"] < 64 and 0 <= r["i2"] < 64 for r in rs)
