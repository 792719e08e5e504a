"""Driver-contract query registry: 350 (spark_fn, oracle_sql) pairs. The
driver runs the Spark query and the DuckDB SQL side-by-side at sf0.01 and
compares row count + schema + order-insensitive value hash — so every
column is aliased identically on both sides, doubles are made
deterministic (decimal-exact sums, or same-order sequential folds) and
then rounded, and every LIMIT has a total order. The registry order is
registration order.

Queries by name prefix:
  q<n>_, q_    — relational core: scan/filter/agg/join/semi/anti/window/
                 top-k/distinct and 22 TPC-H shapes (SURVEY §2.2-2.7)
  kg_          — KG construction on the `documents` corpus (co-occurrence
                 formulas, category-pair typing — SURVEY §2.3-2.4) and the
                 transcripts KG pipeline itself (kg_pipeline_*)
  dedup_       — exact / n-gram-Jaccard / embedding-cosine / MinHash /
                 SimHash near-duplicate detection
  ann_, search_ — vector top-k (brute force, LSH, IVF, PQ) and retrieval
  text_, bpe_, tfidf_ — token/word stats, quality, fingerprints, tokenizers
  data_        — LLM data-pipeline operators (sampling, packing, PII,
                 contamination, mixing)
  sketch_      — streaming sketches
  multimodal_  — image/audio/PDF/archive ingestion (sources/multimodal.py,
                 sources/archives.py, sources/pdf.py, sources/protobuf.py)
"""

from __future__ import annotations

import math

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import kg_docs
from .sources.tables import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: SparkQuery):
        # a duplicate name would silently SHADOW the earlier query (its
        # registry entry and oracle both replaced) — fail at import instead
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


_MEMO: dict = {}


def _memo(spark, key, build):
    """Session-scoped memo of deterministic shared upstreams. The driver's
    correctness sweep runs every registered query in ONE session, and ~80 of
    them project the same vocabulary co-occurrence graph (or re-run the same
    200-conversation pipeline build) before doing their own work — caching
    that shared prefix cuts the sweep wall without touching any query's
    values: the builds are deterministic and persist() caches exactly what
    the plan would recompute. Keyed by applicationId so a fresh session never
    sees another session's persisted plans; every entry is vocabulary- or
    fixture-scale (KBs), never data-scale."""
    k = (spark.sparkContext.applicationId, key)
    if k not in _MEMO:
        _MEMO[k] = build()
    return _MEMO[k]


def _cooc_edges(spark, sf_dir, min_cooc: int = kg_docs.MIN_COOCCURRENCES):
    """Memoized co-occurrence edges: ONE unfiltered pair aggregate per
    sf_dir, filtered per caller — `common >= min_cooc` commutes with the
    strength/confidence formulas, so every threshold variant reads the same
    persisted table."""
    base = _memo(spark, ("cooc_all", sf_dir),
                 lambda: kg_docs.doc_cooccurrence_edges(
                     spark, _t(spark, sf_dir, "documents"),
                     min_cooccurrences=1).persist())
    return base.filter(F.col("common") >= min_cooc) if min_cooc > 1 else base


def _typed_edges(spark, sf_dir):
    return _memo(spark, ("typed", sf_dir),
                 lambda: kg_docs.doc_typed_edges(
                     spark, None,
                     edges=_cooc_edges(spark, sf_dir)).persist())


# ───────────────────────── relational ─────────────────────────

# Decimal-exact money math: cast inputs to decimal so the sum is exact and
# order-independent, then cast to double and round — both engines produce
# bit-identical results.
_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_disc_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_SQL)
def q1_pricing_summary(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(price * (F.lit(1) - disc)).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_REV_NATION_SQL = """
SELECT n.n_name AS nation,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register("q_revenue_by_nation", _REV_NATION_SQL)
def q_revenue_by_nation(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        # customer is NOT hinted: a broadcast hint never degrades, and at
        # sf100 customer is 15M rows — AQE picks broadcast when it fits.
        # nation (25 rows) is genuinely bounded, so the hint stays.
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


_TOP_PARTS_SQL = """
SELECT p.p_partkey, p.p_name,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_partkey, p.p_name
ORDER BY revenue DESC, p_partkey ASC
LIMIT 10
"""


@register("q_top_parts", _TOP_PARTS_SQL)
def q_top_parts(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(10)
    )


_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
"""


@register("q_order_priority_semijoin", _PRIORITY_SQL)
def q_order_priority_semijoin(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_NO_ORDERS_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


@register("q_customers_no_orders_antijoin", _NO_ORDERS_SQL)
def q_customers_no_orders_antijoin(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM flagged GROUP BY user_id
"""


@register("q_events_sessionize", _SESSIONS_SQL)
def q_events_sessionize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
    )


_RUNNING_SQL = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 4) AS running_value,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
FROM events
"""


@register("q_events_running_window", _RUNNING_SQL)
def q_events_running_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id") \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
        F.row_number().over(ws).cast("long").alias("seq"),
    )


_JSON_SQL = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


@register("q_events_json_extract", _JSON_SQL)
def q_events_json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.count(F.lit(1)).alias("n"),
    )


_SEGMENT_SQL = """
SELECT c_mktsegment,
       count(DISTINCT c_nationkey) AS n_nations,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_acctbal,
       round(max(c_acctbal), 2) AS max_acctbal
FROM customer GROUP BY c_mktsegment
"""


@register("q_segment_distinct_agg", _SEGMENT_SQL)
def q_segment_distinct_agg(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)), 4).alias("avg_acctbal"),
        F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
    )


_ROLLUP_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


@register("q_rollup_orders", _ROLLUP_SQL)
def q_rollup_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                     .cast("double"), 2).alias("total"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n", "total")
    )


_SETOPS_SQL = """
SELECT c_custkey FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE year(o.o_orderdate) = 1995
INTERSECT
SELECT c_custkey FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE year(o.o_orderdate) = 1996
"""


@register("q_setops_repeat_customers", _SETOPS_SQL)
def q_setops_repeat_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    def buyers(year):
        return (c.join(o, c.c_custkey == o.o_custkey)
                .filter(F.year("o_orderdate") == year)
                .select("c_custkey"))
    return buyers(1995).intersect(buyers(1996))


_RANGE_JOIN_SQL = """
SELECT a.event_id, count(b.event_id) AS followups
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
GROUP BY a.event_id
"""


@register("q_events_range_join", _RANGE_JOIN_SQL)
def q_events_range_join(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("b.ts") > F.col("a.ts"))
               & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES")))
        .groupBy(F.col("a.event_id").alias("event_id"))
        .agg(F.count(F.lit(1)).alias("followups"))
    )


# The right side is deduped to one view per (user_id, ts) on BOTH sides:
# DuckDB's ASOF picks an arbitrary row among ties at the max qualifying ts,
# while as_of_join picks a deterministic one — removing ties removes the
# only way the two could legitimately disagree.
_ASOF_SQL = """
SELECT c.event_id, c.user_id, c.ts,
       v.ts AS view_ts, v.event_id AS view_event_id, v.value AS view_value
FROM (SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'view'
                QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                           ORDER BY event_id) = 1) v
  ON c.user_id = v.user_id AND v.ts <= c.ts
"""


_QUANTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.9), 6) AS p90,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


@register("q_events_quantiles", _QUANTILES_SQL)
def q_events_quantiles(spark, sf_dir):
    """Exact linearly-interpolated quantiles per event type — Spark's
    percentile() and DuckDB's quantile_cont() implement the same type-7
    definition, value-identical at 6 dp. Exact percentile holds a per-group
    value histogram in the aggregation buffer; at true 100 TB scale switch
    to percentile_approx (t-digest-style bounded state) unless per-group
    cardinality is known-bounded."""
    ev = _t(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.9))")
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("_p"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.round(F.col("_p")[0], 6).alias("p25"),
            F.round(F.col("_p")[1], 6).alias("p50"),
            F.round(F.col("_p")[2], 6).alias("p75"),
            F.round(F.col("_p")[3], 6).alias("p90"),
            "n",
        )
    )


def _asof_clicks_views(spark, sf_dir, bucket: float | None):
    """Shared body of the two as-of registrations: every click gets the
    latest preceding view per user (views deduped per (user, ts) so the
    oracle's tie handling is deterministic)."""
    from pyspark.sql import Window

    from .operators.asof import as_of_join
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("event_id", "user_id", "ts", "value")
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("event_id", "user_id", "ts", "value")
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("user_id", "ts").orderBy("event_id")))
        .filter(F.col("_rn") == 1).drop("_rn")
    )
    out = as_of_join(clicks, views, on="user_id", ts_col="ts",
                     right_prefix="view_", bucket=bucket)
    return out.select("event_id", "user_id", "ts",
                      "view_ts", "view_event_id", "view_value")


@register("q_events_asof_join", _ASOF_SQL)
def q_events_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): every click gets the latest preceding
    view per user — DuckDB's native ASOF JOIN is the oracle; the Spark plan
    is the linear union+running-last shape, not an inequality join."""
    return _asof_clicks_views(spark, sf_dir, bucket=None)


@register("q_events_asof_bucketed", _ASOF_SQL)
def q_events_asof_bucketed(spark, sf_dir):
    """The hot-key-safe as-of plan (bucket= time-bucket pre-partitioning +
    boundary stitch) against the SAME DuckDB native-ASOF oracle — proving
    the bucketed path is value-identical, not just equivalent in tests."""
    return _asof_clicks_views(spark, sf_dir, bucket=6 * 3600.0)


# ───────────────────────── kg on documents ─────────────────────────

_KG_MENTIONS_SQL = f"""
SELECT d.doc_id, lex.term, lex.category
FROM documents d, {kg_docs.lexicon_values_sql()}
WHERE list_contains(string_split(d.text, ' '), lex.term)
"""


@register("kg_mentions_docs", _KG_MENTIONS_SQL)
def kg_mentions_docs(spark, sf_dir):
    return kg_docs.doc_mentions(spark, _t(spark, sf_dir, "documents"))


_KG_COOCCUR_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), n AS (
  SELECT term, count(*) AS n FROM m GROUP BY term
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
)
SELECT p.term_a, p.term_b, p.common,
       round(CAST(p.common AS DOUBLE) / least(na.n, nb.n), 6) AS strength,
       round(least(1.0, CAST(p.common AS DOUBLE) / 10.0), 6) AS confidence
FROM pairs p
JOIN n na ON na.term = p.term_a
JOIN n nb ON nb.term = p.term_b
"""


@register("kg_cooccur_docs", _KG_COOCCUR_SQL)
def kg_cooccur_docs(spark, sf_dir):
    return _cooc_edges(spark, sf_dir)


_KG_TYPED_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), n AS (
  SELECT term, count(*) AS n FROM m GROUP BY term
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
)
SELECT p.term_a, typ.pred, p.term_b, p.common,
       round(CAST(p.common AS DOUBLE) / least(na.n, nb.n), 6) AS strength,
       round(least(1.0, CAST(p.common AS DOUBLE) / 10.0), 6) AS confidence
FROM pairs p
JOIN n na ON na.term = p.term_a
JOIN n nb ON nb.term = p.term_b
JOIN {kg_docs.typing_values_sql()} ON typ.term_a = p.term_a AND typ.term_b = p.term_b
"""


@register("kg_typed_edges_docs", _KG_TYPED_SQL)
def kg_typed_edges_docs(spark, sf_dir):
    return _typed_edges(spark, sf_dir)


_KG_DEGREE_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), und AS (
  SELECT term_a AS term FROM pairs UNION ALL SELECT term_b FROM pairs
)
SELECT term, count(*) AS degree FROM und GROUP BY term
"""


@register("kg_degree_docs", _KG_DEGREE_SQL)
def kg_degree_docs(spark, sf_dir):
    return kg_docs.doc_degree_centrality(spark, _t(spark, sf_dir, "documents"))


# Triangle oracle uses the simple a<b orientation; the operator's
# degree-ordered orientation finds the identical triangle set (any total
# order does), so the per-node counts agree exactly.
_KG_TRIANGLES_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), deg AS (
  SELECT term AS node, count(*) AS d FROM (
    SELECT a AS term FROM e UNION ALL SELECT b FROM e
  ) GROUP BY term
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), corners AS (
  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
), t AS (
  SELECT node, count(*) AS triangles FROM corners GROUP BY node
)
SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       round(CASE WHEN deg.d >= 2
                  THEN 2.0 * coalesce(t.triangles, 0) / (deg.d * (deg.d - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg LEFT JOIN t ON t.node = deg.node
"""


_KG_LINKPRED_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), both_dir AS (
  SELECT a AS z, b AS x FROM e UNION ALL SELECT b AS z, a AS x FROM e
), deg AS (
  SELECT z, count(*) AS d FROM both_dir GROUP BY z
), pairs AS (
  SELECT e1.x AS a, e2.x AS b,
         round(sum(1.0 / ln(deg.d)), 6) AS aa_score,
         count(*) AS common_neighbors
  FROM both_dir e1 JOIN both_dir e2 ON e1.z = e2.z AND e1.x < e2.x
  JOIN deg ON deg.z = e1.z
  GROUP BY e1.x, e2.x
)
SELECT a, b, CAST(common_neighbors AS BIGINT) AS common_neighbors, aa_score
FROM pairs
"""


@register("kg_link_prediction_docs", _KG_LINKPRED_SQL)
def kg_link_prediction_docs(spark, sf_dir):
    """Adamic-Adar common-neighbor scores over the documents co-occurrence
    graph (operators/graph_algos.adamic_adar) — rarer shared neighbors
    weighted higher. Registered with include_existing=True: this small dense
    graph has no non-adjacent pair with a common neighbor, so the default
    (missing-edge-only, anti-joined) output would be empty and verify
    nothing; scoring all pairs exercises the full wedge + weighting path."""
    from .operators.graph_algos import adamic_adar
    edges = _cooc_edges(spark, sf_dir)
    return adamic_adar(edges, src="term_a", dst="term_b",
                       include_existing=True)


@register("kg_triangles_docs", _KG_TRIANGLES_SQL)
def kg_triangles_docs(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient over the
    documents co-occurrence graph (operators/graph_algos.triangle_counts —
    degree-ordered orientation, two equi-join shuffles)."""
    from .operators.graph_algos import triangle_counts
    edges = _cooc_edges(spark, sf_dir)
    return triangle_counts(edges, src="term_a", dst="term_b")


def _pagerank_sql(max_iter: int = 15, scale: int = 10**12,
                  num: int = 85, den: int = 100) -> str:
    """Fixed-point PageRank oracle: the same integer recurrence the Spark
    operator runs (graph_algos.pagerank_scaled), unrolled max_iter times as
    chained CTEs (DuckDB's recursive CTEs allow only one self-reference; the
    step needs two — the contribution join and the dangling sum). Integer
    floor-division everywhere ⇒ bit-identical to Spark regardless of
    aggregation order."""
    # AS MATERIALIZED: the unrolled iterations reference e/nodes/nn/od
    # max_iter times each; DuckDB inlines plain CTEs, which would re-open the
    # parquet file per reference (EMFILE) and redo the scan 15x.
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS src, b.term AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
od AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, {scale} // nn.n AS r FROM nodes, nn)"""
    return (head + _pr_recurrence(max_iter, scale, num, den)
            + f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r{max_iter}")


def _pr_recurrence(max_iter: int, scale: int, num: int, den: int,
                   contrib: str = "r.r // od.deg") -> str:
    """The unrolled fixed-point PageRank iteration CTEs, shared by every
    PageRank-family oracle. Expects CTEs named e(src,dst) / nodes(node) /
    nn(n) / od(node,deg) / r0(node,r) to be in scope. `contrib` is the
    per-edge rank-contribution expression — "(r.r * e.w) // od.deg" for the
    weighted variant (od.deg then being the per-src weight sum)."""
    steps = []
    for i in range(1, max_iter + 1):
        p = f"r{i - 1}"
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT nodes.node,
         (({den - num} * {scale}) // ({den} * nn.n))
         + ({num} * (coalesce(s.in_sum, 0) + dg.dang // nn.n)) // {den} AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS node, sum({contrib}) AS in_sum
             FROM e JOIN {p} r ON e.src = r.node JOIN od ON od.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node
  CROSS JOIN (SELECT coalesce(sum(r.r), 0) AS dang
              FROM {p} r LEFT JOIN od ON r.node = od.node
              WHERE od.node IS NULL) dg
)""")
    return "".join(steps)


@register("kg_pagerank_docs", _pagerank_sql())
def kg_pagerank_docs(spark, sf_dir):
    from .operators.graph_algos import pagerank_scaled
    edges = _typed_edges(spark, sf_dir)
    return pagerank_scaled(edges.withColumnRenamed("term_a", "subj")
                           .withColumnRenamed("term_b", "obj"), max_iter=15)


def _centrality_sql(max_hops: int = 4, scale: int = 10**6) -> str:
    """Harmonic/closeness oracle: all-pairs BFS unrolled one (frontier,
    seen) CTE pair per hop, then integer floor-division score sums —
    bit-identical to graph_algos.harmonic_centrality."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= 2
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
s0 AS MATERIALIZED (SELECT node AS root, node, 0 AS d FROM nodes),
f0 AS (SELECT root, node FROM s0)"""
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(f""",
f{i} AS MATERIALIZED (
  SELECT DISTINCT p.root, e.dst AS node
  FROM f{i - 1} p JOIN e ON e.src = p.node
  WHERE NOT EXISTS (SELECT 1 FROM s{i - 1} s
                    WHERE s.root = p.root AND s.node = e.dst)
),
s{i} AS MATERIALIZED (
  SELECT * FROM s{i - 1} UNION ALL SELECT root, node, {i} AS d FROM f{i}
)""")
    return head + "".join(steps) + f"""
SELECT root AS node,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(max(d) AS BIGINT) AS eccentricity,
       CAST(sum(d) AS BIGINT) AS sum_dist,
       CAST(sum({scale} // d) AS BIGINT) AS harmonic_e6,
       CAST((count(*) * {scale}) // sum(d) AS BIGINT) AS closeness_e6
FROM s{max_hops} WHERE d > 0 GROUP BY root"""


@register("kg_centrality_docs", _centrality_sql())
def kg_centrality_docs(spark, sf_dir):
    """Closeness-family centralities (harmonic, closeness, eccentricity)
    via bounded all-pairs BFS on the projected concept graph — integer
    fixed-point scores (graph_algos.harmonic_centrality)."""
    from .operators.graph_algos import harmonic_centrality
    edges = _typed_edges(spark, sf_dir)
    return harmonic_centrality(edges.withColumnRenamed("term_a", "subj")
                               .withColumnRenamed("term_b", "obj"))


def _pagerank_weighted_sql(max_iter: int = 15, scale: int = 10**12,
                           num: int = 85, den: int = 100) -> str:
    """Weighted-PageRank oracle: same unrolled recurrence, per-edge
    contribution (r·w) // Σw_out with w = the pair co-occurrence count."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
od AS MATERIALIZED (SELECT src AS node, sum(w) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, {scale} // nn.n AS r FROM nodes, nn)"""
    return (head
            + _pr_recurrence(max_iter, scale, num, den,
                             contrib="(r.r * e.w) // od.deg")
            + f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled"
              f" FROM r{max_iter}")


@register("kg_pagerank_weighted_docs", _pagerank_weighted_sql())
def kg_pagerank_weighted_docs(spark, sf_dir):
    """Evidence-weighted PageRank: rank mass flows proportionally to the
    pair co-occurrence count instead of uniformly per out-edge
    (pagerank_scaled(weight=...), integer (r·w)//Σw contributions)."""
    from .operators.graph_algos import pagerank_scaled
    edges = _cooc_edges(spark, sf_dir)
    return pagerank_scaled(edges.withColumnRenamed("term_a", "subj")
                           .withColumnRenamed("term_b", "obj"),
                           max_iter=15, weight="common")


def _negsample_sql(k: int = 3, attempts: int = 8, seed: int = 42,
                   min_cooc: int = 322) -> str:
    """Negative-sampling oracle: identical hash-indexed tail proposal +
    adjacency anti-join + first-k-attempts selection in SQL."""
    return f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), und AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), verts AS MATERIALIZED (
  SELECT node, CAST(row_number() OVER (ORDER BY node) AS INTEGER) AS idx
  FROM (SELECT DISTINCT src AS node FROM und)
), nv AS (SELECT count(*) AS n FROM verts),
att AS (
  SELECT a AS subj, b AS obj, CAST(i AS INTEGER) AS attempt,
         CAST(CAST(concat('0x', substr(md5(concat('neg:{seed}:', a, ':', b,
                    ':', CAST(i AS VARCHAR))), 1, 16)) AS UBIGINT)
              % (SELECT n FROM nv) AS INTEGER) + 1 AS idx
  FROM e0, range(0, {attempts}) t(i)
), cand AS (
  SELECT att.subj, att.obj, v.node AS neg_obj,
         CAST(min(att.attempt) AS INTEGER) AS attempt
  FROM att JOIN verts v USING (idx)
  WHERE v.node != att.subj
    AND NOT EXISTS (SELECT 1 FROM und u
                    WHERE u.src = att.subj AND u.dst = v.node)
  GROUP BY att.subj, att.obj, v.node
)
SELECT subj, obj, neg_obj, attempt FROM cand
QUALIFY row_number() OVER (PARTITION BY subj, obj ORDER BY attempt) <= {k}
"""


@register("kg_negative_samples", _negsample_sql())
def kg_negative_samples(spark, sf_dir):
    """Deterministic TransE-style corrupt-tail negative sampling on the
    concept graph (graph_algos.negative_samples): hash-indexed proposals,
    adjacency anti-join, first-k-attempts — reproducible across engines,
    retries and cluster widths. min_cooccurrences=322 sparsifies (the
    default-2 concept graph is complete at sf0.01, leaving no valid
    negatives — same rationale as kg_kcore_docs)."""
    from .operators.graph_algos import negative_samples
    edges = _cooc_edges(spark, sf_dir, 322)
    return negative_samples(edges.withColumnRenamed("term_a", "subj")
                            .withColumnRenamed("term_b", "obj"))


def _lpa_ctes(n_iters: int = 5, min_cooc: int = 2) -> str:
    """The synchronous LPA recurrence as a WITH-clause prefix (one
    MATERIALIZED CTE per round, the pagerank-oracle technique) — shared by
    the communities oracle and the modularity oracle so the recurrence can
    never drift between them. Exposes CTEs e (unique a<b edges), bd
    (undirected adjacency) and l{n_iters} (final labels)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
l0 AS (SELECT node, node AS label FROM nodes)"""
    steps = []
    for i in range(1, n_iters + 1):
        p = f"l{i - 1}"
        steps.append(f""",
l{i} AS MATERIALIZED (
  SELECT nd.node, coalesce(p.label, pv0.label) AS label
  FROM nodes nd
  JOIN {p} pv0 ON pv0.node = nd.node
  LEFT JOIN (
    SELECT c.node, c.label FROM (
      SELECT bd.node AS node, pv.label AS label, count(*) AS cnt
      FROM bd JOIN {p} pv ON pv.node = bd.nbr
      GROUP BY bd.node, pv.label
    ) c
    QUALIFY row_number() OVER (PARTITION BY c.node
                               ORDER BY c.cnt DESC, c.label ASC) = 1
  ) p ON p.node = nd.node
)""")
    return head + "".join(steps)


def _lpa_sql(n_iters: int = 5) -> str:
    """Label-propagation oracle: the shared recurrence + final projection."""
    return (_lpa_ctes(n_iters)
            + f"\nSELECT node, label AS community FROM l{n_iters}")


@register("kg_communities_docs", _lpa_sql())
def kg_communities_docs(spark, sf_dir):
    """Community detection by deterministic synchronous label propagation
    (operators/graph_algos.label_propagation) over the document
    co-occurrence graph."""
    from .operators.graph_algos import label_propagation
    edges = _cooc_edges(spark, sf_dir)
    return label_propagation(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"), n_iters=5)


_KHOP_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS src, b.term AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), h0 AS (SELECT 'spark' AS node, 0 AS hop),
h1 AS (
  SELECT DISTINCT u.dst AS node, 1 AS hop
  FROM und u JOIN h0 ON u.src = h0.node
  WHERE u.dst NOT IN (SELECT node FROM h0)
), h2 AS (
  SELECT DISTINCT u.dst AS node, 2 AS hop
  FROM und u JOIN h1 ON u.src = h1.node
  WHERE u.dst NOT IN (SELECT node FROM h0 UNION SELECT node FROM h1)
)
SELECT node, CAST(hop AS INTEGER) AS hop FROM h0
UNION ALL SELECT node, CAST(hop AS INTEGER) FROM h1
UNION ALL SELECT node, CAST(hop AS INTEGER) FROM h2
"""


@register("kg_khop_docs", _KHOP_SQL)
def kg_khop_docs(spark, sf_dir):
    from .operators.graph_algos import k_hop_neighborhood
    edges = _typed_edges(spark, sf_dir)
    return k_hop_neighborhood(
        edges.withColumnRenamed("term_a", "subj").withColumnRenamed("term_b", "obj"),
        ["spark"], k=2)


# ───────────────────────── dedup ─────────────────────────

_DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keeper_id, count(*) AS group_size
FROM documents GROUP BY 1
"""


@register("dedup_exact_docs", _DEDUP_EXACT_SQL)
def dedup_exact_docs(spark, sf_dir):
    from .operators.dedup import exact_duplicates
    return exact_duplicates(_t(spark, sf_dir, "documents"))


_NGRAM_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id AS id, lang AS blk,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)
)
SELECT a.id AS id_a, b.id AS id_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.1
"""


@register("dedup_ngram_jaccard_docs", _NGRAM_JACCARD_SQL)
def dedup_ngram_jaccard_docs(spark, sf_dir):
    from .operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.1, k=3)


_EMB_NEAR_DUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.8
"""


@register("dedup_embedding_cosine", _EMB_NEAR_DUP_SQL)
def dedup_embedding_cosine(spark, sf_dir):
    from .operators.dedup import embedding_near_dup_pairs
    return embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.8)


# MinHash oracle = the exact-Jaccard pair set (no blocking) over the
# EXACT-DEDUPED corpus: the operator's pre_collapse_exact=True default folds
# byte-identical (normalized) texts to their min-id representative BEFORE
# hashing (exact duplicates belong to the exact-dedup pass), so the oracle
# mirrors that collapse — `rep` below is the same min-id-per-md5(norm) set.
# (The operator's bucket_cap=2000 guard cannot fire here: every band bucket
# in this corpus is orders of magnitude below the cap, so capping drops
# nothing.) On the surviving pairs equality holds because candidate
# generation loses only pairs that miss ALL 16 bands: P(miss) = (1-J²)^16
# per pair — ≤ 3e-12 at the J ≥ 0.9 this corpus's near-dup pairs sit at
# (verified: every sf0.01/0.001 pair with J ≥ 0.1 has J ≥ 0.9). The hashes
# are deterministic, so the comparison is stable, and
# tests/test_dedup_similarity.py pins the subset+recall semantics besides.
_MINHASH_SQL = """
WITH rep AS (
  SELECT min(doc_id) AS id
  FROM documents
  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
), sh AS (
  SELECT doc_id AS id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents JOIN rep ON documents.doc_id = rep.id)
)
SELECT a.id AS id_a, b.id AS id_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.1
"""


@register("dedup_minhash_docs", _MINHASH_SQL)
def dedup_minhash_docs(spark, sf_dir):
    """MinHash-LSH near-dup pairs vs an EXACT ground-truth oracle (the SQL
    computes true Jaccard over all pairs). At the gate's corpus every true
    pair >= 0.1 happens to collide in a band, so LSH recall is 1.0 and the
    hash matches; at larger corpora borderline-J pairs can miss all 16
    bands (measured: 242/245 at sf0.1) — the probabilistic-recall trade
    that makes LSH linear, not an engine defect."""
    from .operators.dedup import minhash_near_dup_pairs
    return minhash_near_dup_pairs(_t(spark, sf_dir, "documents"), threshold=0.1)


# SimHash oracle: the 64-bit signature is reproduced EXACTLY in SQL (md5 of
# each word → first 8 bytes as uint64 → per-bit ±1 accumulation → sign bits,
# two's-complement to match Spark's signed long), then pairs brute-forced.
# Brute force equals the blocked Spark plan by construction: 4x16-bit
# pigeonhole blocking is lossless for hamming <= 3. The operator's
# pre_collapse_identical=True default folds identical signatures to their
# min-id representative before pairing — mirrored by the `s` CTE's GROUP BY
# sim. (block_cap=2000 cannot fire on this corpus: every block bucket is
# far below the cap.)
_SIMHASH_SQL = r"""
WITH w AS (
  SELECT id, CAST(concat('0x', substr(md5(word), 1, 16)) AS UBIGINT) AS h
  FROM (SELECT doc_id AS id, unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents)
  WHERE word != ''
), bits AS (
  SELECT id, k, sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM w, range(64) t(k)
  GROUP BY id, k
), sig AS (
  SELECT id, sum(CASE WHEN acc >= 0
                      THEN CAST(CAST(1 AS UBIGINT) << CAST(k AS INTEGER) AS HUGEINT)
                      ELSE 0 END) AS raw
  FROM bits GROUP BY id
), s0 AS (
  SELECT id, CAST(CASE WHEN raw >= 9223372036854775808 THEN raw - 18446744073709551616
                       ELSE raw END AS BIGINT) AS sim
  FROM sig
), s AS (
  SELECT min(id) AS id, sim FROM s0 GROUP BY sim
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.id < b.id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
"""


@register("dedup_simhash_docs", _SIMHASH_SQL)
def dedup_simhash_docs(spark, sf_dir):
    from .operators.dedup import simhash_near_dup_pairs
    return simhash_near_dup_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


_TFIDF_STOP = "'" + "', '".join([
    "the", "and", "for", "are", "but", "not", "you", "all", "can", "had",
    "her", "was", "one", "our", "out", "has", "have", "this", "that", "with",
    "from", "they", "been", "were", "which", "their", "there", "would",
]) + "'"

_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split_regex(lower(text), '\\s+')) AS token
  FROM documents
), ftoks AS (
  SELECT id, token FROM toks
  WHERE regexp_matches(token, '^[a-z][a-z-]*[a-z]$')
    AND length(token) > 2 AND token NOT IN ({_TFIDF_STOP})
), tf AS (
  SELECT id, token, count(*) AS tf FROM ftoks GROUP BY id, token
), dfreq AS (
  -- inverted-index pruning, mirrored from tfidf_weights(max_df_ratio=0.5):
  -- tokens present in more than half the corpus never reach the join
  SELECT token, count(*) AS df FROM tf GROUP BY token
  HAVING count(*) <= (SELECT CAST(floor(count(*) * 0.5) AS BIGINT) FROM documents)
), n AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT tf.id, tf.token,
         tf.tf * (ln(CAST(n.n AS DOUBLE) / (dfreq.df + 1)) + 1) AS w
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
), nrm AS (
  SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY id
), v AS (
  SELECT w.id, w.token, w.w / nrm.nrm AS w FROM w JOIN nrm USING (id)
), sims AS (
  SELECT a.id AS id_a, b.id AS id_b, round(sum(a.w * b.w), 6) AS sim
  FROM v a JOIN v b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id
  HAVING round(sum(a.w * b.w), 6) >= 0.3
)
SELECT id_a, id_b, sim, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a
                                   ORDER BY sim DESC, id_b ASC) AS rank
      FROM sims)
WHERE rank <= 5
"""


@register("tfidf_similar_docs", _TFIDF_SQL)
def tfidf_similar_docs(spark, sf_dir):
    from .operators.tfidf import tfidf_similar_pairs
    return tfidf_similar_pairs(_t(spark, sf_dir, "documents"))


# ───────────────────────── similarity ─────────────────────────

_ANN_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.query_id, a.vec_id AS id,
         round(list_dot_product(a.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM embeddings a, q WHERE a.vec_id != q.query_id
)
SELECT query_id, id, cos,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""


@register("ann_topk_cosine", _ANN_SQL)
def ann_topk_cosine(spark, sf_dir):
    from .operators.similarity import brute_force_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    out = brute_force_topk(embs, q, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


_ANN_FILTERED_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.query_id, a.vec_id AS id,
         round(list_dot_product(a.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM embeddings a, q
  WHERE a.vec_id != q.query_id AND a.label IN (1, 3, 5)
)
SELECT query_id, id, cos, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""


@register("ann_topk_filtered", _ANN_FILTERED_SQL)
def ann_topk_filtered(spark, sf_dir):
    """Metadata-filtered ANN — the reference's collection.query(where=...)
    (core/vector_store.py:188-199): the predicate prunes the corpus BEFORE
    scoring, pushed into the scan."""
    from .operators.similarity import brute_force_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    out = brute_force_topk(embs, q, k=10, where=F.col("label").isin(1, 3, 5))
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_topk_sql(num_planes: int = 6, dim: int = 64, k: int = 10) -> str:
    """LSH ANN oracle: the hyperplanes are md5-derived literals
    (functions/vectors.lsh_planes), so the SQL computes the IDENTICAL bucket
    ids — same sign tests against the same plane constants — then ranks the
    bucket-joined candidates by exact cosine, exactly like the Spark plan."""
    from .functions.vectors import lsh_planes

    planes = lsh_planes(num_planes, dim)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {plane!r}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes))
    return f"""
WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT id, v, {bucket} AS bucket FROM c),
q AS (SELECT id AS query_id, v AS qv, bucket FROM b WHERE id IN (0, 1, 2)),
scored AS (
  SELECT q.query_id, b.id,
         round(list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM b JOIN q ON b.bucket = q.bucket AND b.id != q.query_id
)
SELECT query_id, id, cos, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, id ASC) AS rank
      FROM scored)
WHERE rank <= {k}
"""


@register("ann_lsh_topk", _lsh_topk_sql())
def ann_lsh_topk(spark, sf_dir):
    from .operators.similarity import lsh_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    out = lsh_topk(embs, q, k=10, num_planes=6, dim=64)
    return out.withColumn("rank", F.col("rank").cast("long"))


_SF_EVENT_ROWS = {"0.001": 1000, "0.01": 10000, "0.1": 100000}


def _scale_keyed_fixture_sql(rows_by_sf: dict) -> str:
    """Serve a per-scale VALUES fixture keyed by a corpus probe: each row is
    tagged with its scale's events-table row count and the query keeps only
    the rows whose tag equals (SELECT count(*) FROM events) — so ONE static
    oracle string is value-exact at every generated scale (the embeddings
    tables at sf0.001 and sf0.01 both have 500 rows, so the events count is
    the discriminating probe)."""
    vals = ", ".join(
        f"({_SF_EVENT_ROWS[sf]}, {q}, {i}, {cos!r}, {rank})"
        for sf, rows in rows_by_sf.items() if sf in _SF_EVENT_ROWS
        for q, i, cos, rank in rows)
    return (f"SELECT CAST(query_id AS BIGINT) AS query_id,"
            f" CAST(id AS BIGINT) AS id, CAST(cos AS DOUBLE) AS cos,"
            f" CAST(rank AS BIGINT) AS rank"
            f" FROM (VALUES {vals}) t(ev, query_id, id, cos, rank)"
            f" WHERE ev = (SELECT count(*) FROM events)")


def _ivf_fixture_sql() -> str:
    """IVF ANN oracle: the quantizer is deterministic end-to-end (md5-seeded
    sample + fixed-point Lloyd updates + 6-dp-rounded assignment, see
    operators/similarity.ivf_assignments), so the whole query is re-evaluated
    single-process in plain Python (scripts/gen_ivf_fixture.py — no Spark,
    the same technique as the semantic-chunk fixture) and served as VALUES.
    The driver compares at sf0.01; tests pin sf0.001 besides."""
    from .ivf_fixture import IVF_TOPK

    return _scale_keyed_fixture_sql(IVF_TOPK)


@register("ann_ivf_topk", _ivf_fixture_sql())
def ann_ivf_topk(spark, sf_dir):
    from .operators.similarity import ivf_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    return ivf_topk(embs, q, k=10, n_centroids=8, n_probe=2)


def _pq_fixture_sql() -> str:
    """PQ ANN oracle — same single-process-Python-fixture technique as IVF
    (scripts/gen_ivf_fixture.py:pq_topk_single_process): the codebooks are
    md5-seeded + fixed-point, the ADC tables and shortlist are 6-dp-rounded,
    so the whole compressed-scan + exact-re-rank query is reproduced
    value-exactly outside Spark."""
    from .ivf_fixture import PQ_TOPK

    return _scale_keyed_fixture_sql(PQ_TOPK)


@register("ann_pq_topk", _pq_fixture_sql())
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.pq_topk): compressed
    m-code scan + ADC shortlist + exact cosine re-rank — the memory path
    for 10^9-vector corpora."""
    from .operators.similarity import pq_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    return pq_topk(embs, q, k=10, m=16, n_codes=16, shortlist=100)


def _ivfpq_residual_fixture_sql() -> str:
    """True-IVFADC oracle — the same single-process-Python-fixture technique
    as IVF/PQ (scripts/gen_ivf_fixture.py:ivfpq_residual_single_process):
    the coarse quantizer, the residual computation, the residual PQ
    codebooks, the per-(query, list) ADC tables and the shortlist are all
    deterministic by construction, so the full operator is reproduced
    value-exactly outside Spark."""
    from .ivf_fixture import IVFPQ_RESIDUAL_TOPK

    return _scale_keyed_fixture_sql(IVFPQ_RESIDUAL_TOPK)


@register("ann_ivfpq_residual_topk", _ivfpq_residual_fixture_sql())
def ann_ivfpq_residual_topk(spark, sf_dir):
    """Residual-quantized IVF-PQ — true IVFADC (Jégou et al., TPAMI 2011):
    PQ codebooks trained on residuals vs the coarse centroid, per-(query,
    probed-list) ADC tables, exact cosine re-rank
    (operators/similarity.ivf_pq_residual_topk)."""
    from .operators.similarity import ivf_pq_residual_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id").isin(0, 1, 2))
    return ivf_pq_residual_topk(embs, q, k=10, n_centroids=8, n_probe=2,
                                m=16, n_codes=16, shortlist=100)


def _bm25_sql(terms=("spark", "join", "vector"), k=20, k1=1.2, b=0.75) -> str:
    """BM25 oracle — the exact float literals Spark computes (k1+1, 1−b) are
    embedded via repr() so both engines evaluate identical constants, and
    every float expression is parenthesized to mirror the Spark expression
    tree; per-term contributions are 6-dp-rounded fixed-point longs summed
    exactly (order-free) in BOTH engines."""
    tl = ", ".join(f"'{t}'" for t in terms)
    avgdl = "(CAST(sdl AS DOUBLE) / n)"
    idf = "ln((((n - df) + 0.5) / (df + 0.5)) + 1.0)"
    denom = f"(tf + ({k1!r} * ({(1.0 - b)!r} + (({b!r} * dl) / {avgdl}))))"
    contrib = f"(({idf} * (tf * {(k1 + 1.0)!r})) / {denom})"
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             w -> w != '') AS words
  FROM documents
), dl AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM base
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(words) AS token FROM base)
  WHERE token IN ({tl}) GROUP BY doc_id, token
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl
), dfq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
), c AS (
  SELECT tf.doc_id,
         CAST(round(round({contrib}, 6) * 1000000.0, 0) AS BIGINT) AS cq
  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN stats
), s AS (
  SELECT doc_id, round(sum(cq) / 1000000.0, 6) AS score,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM c GROUP BY doc_id
)
SELECT doc_id, score, n_terms,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM s ORDER BY score DESC, doc_id LIMIT {k}
"""


@register("search_bm25", _bm25_sql())
def search_bm25(spark, sf_dir):
    """Okapi BM25 ranked retrieval over the documents corpus
    (operators/tfidf.bm25_rank) — top-k via distributed TakeOrdered, scores
    fixed-point deterministic across engines."""
    from .operators.tfidf import bm25_rank
    return bm25_rank(_t(spark, sf_dir, "documents"),
                     ["spark", "join", "vector"], k=20)


# ───────────────────────── text analysis ─────────────────────────

_TEXT_STATS_SQL = """
SELECT source AS grp, count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_words,
       CAST(sum(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
                                        w -> CAST(ceil(length(w) / 4.0) AS INT)))) AS BIGINT) AS total_tokens,
       round(CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE) / count(*), 4) AS avg_words,
       CAST(min(length(text)) AS BIGINT) AS min_chars,
       CAST(max(length(text)) AS BIGINT) AS max_chars
FROM documents GROUP BY source
"""


@register("text_corpus_stats", _TEXT_STATS_SQL)
def text_corpus_stats(spark, sf_dir):
    from .operators.text_analysis import corpus_stats
    s = corpus_stats(_t(spark, sf_dir, "documents"))
    return s.withColumn(
        "avg_words",
        F.round(F.col("total_words").cast("double") / F.col("n_docs"), 4))


_TEXT_TOKENS_SQL = """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
                                    w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT) AS n_tokens,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
"""


@register("text_tokens_fingerprint", _TEXT_TOKENS_SQL)
def text_tokens_fingerprint(spark, sf_dir):
    from .functions.text import normalize_term, token_count, word_count
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        word_count(F.col("text")).cast("long").alias("n_words"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.md5(normalize_term(F.col("text"))).alias("fp"),
    )


# lang_id + quality_score mirrored expression-for-expression (marker-word
# intersections, stopword/punctuation ratios — functions/text.py:49-89).
_LANG_QUALITY_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(lower(text), '\s+') AS lwords,
         len(string_split_regex(trim(text), '\s+')) AS wc,
         length(text) AS n
  FROM documents
), scored AS (
  SELECT doc_id, text, wc, n,
    len(list_intersect(lwords, ['the','and','of','to','is'])) AS s_en,
    len(list_intersect(lwords, ['el','la','de','que','los'])) AS s_es,
    len(list_intersect(lwords, ['le','la','les','des','est'])) AS s_fr,
    len(list_intersect(lwords, ['der','die','und','das','ist'])) AS s_de,
    len(list_intersect(lwords, ['the','a','of','to','and','is','in','that'])) AS stop_hits,
    n - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS punct
  FROM base
)
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
       WHEN greatest(s_en, s_es, s_fr, s_de) > 0 AND s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
       WHEN greatest(s_en, s_es, s_fr, s_de) > 0 AND s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
       WHEN greatest(s_en, s_es, s_fr, s_de) > 0 AND s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
       WHEN greatest(s_en, s_es, s_fr, s_de) > 0 AND s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
       ELSE 'en' END AS lang_pred,
  round(0.5 * least(1.0, wc / 100.0)
      + 0.5 * least(1.0, 5.0 * stop_hits / greatest(CAST(wc AS DOUBLE), 1.0))
      - least(0.5, CAST(punct AS DOUBLE) / greatest(CAST(n AS DOUBLE), 1.0)), 4) AS quality
FROM scored
"""


@register("text_lang_quality", _LANG_QUALITY_SQL)
def text_lang_quality(spark, sf_dir):
    from .operators.text_analysis import annotate
    return annotate(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred", "quality")


def _pii_sql() -> str:
    """PII-redaction oracle: the SAME RE2-safe pattern strings (the operator
    keeps them lookaround-free precisely so one pattern runs in Java regex
    and RE2), applied in the same progressive order — each kind is counted
    on the text with earlier kinds already replaced, exactly like the
    operator's fold."""
    from .operators.text_analysis import PII_PATTERNS

    cols, prev = [], "text"
    for kind, pat in PII_PATTERNS:
        lit = pat.replace("'", "''")
        cols.append(f"CAST(len(regexp_extract_all({prev}, '{lit}')) AS BIGINT)"
                    f" AS n_{kind}")
        prev = f"regexp_replace({prev}, '{lit}', '[{kind.upper()}]', 'g')"
    return (f"SELECT doc_id, {', '.join(cols)}, md5({prev}) AS red_fp"
            f" FROM documents")


@register("text_pii_redact", _pii_sql())
def text_pii_redact(spark, sf_dir):
    """Training-data PII hygiene: typed-tag redaction + per-kind counts;
    the redacted text is fingerprinted so the oracle verifies the full
    replacement chain, not just the counts."""
    from .operators.text_analysis import redact_pii
    d = redact_pii(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", "n_email", "n_phone", "n_ssn", "n_ipv4",
        F.md5(F.col("text_redacted")).alias("red_fp"))


_REPETITION_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     w -> w != '') AS words
  FROM documents
), ext AS (
  SELECT doc_id, words, len(words) AS n, list_distinct(words) AS uniq,
         [words[i] || ' ' || words[i+1] FOR i IN range(1, greatest(len(words), 1))] AS bigrams
  FROM base
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_words,
  round(CAST(len(uniq) AS DOUBLE) / greatest(n, 1), 6) AS distinct_word_ratio,
  round(CAST(coalesce(list_max([len(list_filter(words, w -> w = u)) FOR u IN uniq]), 0) AS DOUBLE)
        / greatest(n, 1), 6) AS top_word_frac,
  round(CAST(coalesce(list_max([len(list_filter(bigrams, w -> w = u)) FOR u IN list_distinct(bigrams)]), 0) AS DOUBLE)
        / greatest(len(bigrams), 1), 6) AS top_bigram_frac
FROM ext
"""


@register("text_repetition_stats", _REPETITION_SQL)
def text_repetition_stats(spark, sf_dir):
    """Gopher/C4-style repetition signals (distinct-word ratio, top word /
    bigram fractions) — the boilerplate/degeneracy filters of a
    training-data pipeline."""
    from .operators.text_analysis import repetition_stats
    return repetition_stats(_t(spark, sf_dir, "documents"))


_HASH_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(concat('split:42:', CAST(doc_id AS VARCHAR))), 1, 16))
                   AS UBIGINT) % 10000 AS INTEGER) AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@register("data_hash_split", _HASH_SPLIT_SQL)
def data_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by md5 bucket — reproducible
    across engines, task retries and corpus growth (operators/
    text_analysis.hash_split); the DuckDB oracle recomputes the identical
    buckets."""
    from .operators.text_analysis import hash_split
    return hash_split(_t(spark, sf_dir, "documents")).select("doc_id", "split")


_CONTAM_SQL = r"""
WITH sp AS (
  SELECT doc_id, text,
         CAST(CAST(concat('0x', substr(md5(concat('split:42:', CAST(doc_id AS VARCHAR))), 1, 16))
                   AS UBIGINT) % 10000 AS INTEGER) AS bucket
  FROM documents
), w AS (
  SELECT doc_id, bucket,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x != '') AS words
  FROM sp
), g AS (
  SELECT doc_id, bucket,
         unnest(list_distinct([array_to_string(words[i:i+3], ' ')
                               FOR i IN range(1, len(words) - 2)])) AS ng
  FROM w
  WHERE len(words) >= 4
), h AS (
  SELECT doc_id, bucket, substr(md5(ng), 1, 16) AS hh FROM g
), tr AS (SELECT doc_id AS train_id, hh FROM h WHERE bucket < 9000),
   ev AS (SELECT doc_id AS eval_id, hh FROM h WHERE bucket >= 9000),
   tot AS (SELECT eval_id, count(*) AS eval_ngrams FROM ev GROUP BY eval_id),
   hits AS (SELECT train_id, eval_id, count(*) AS n_overlap
            FROM tr JOIN ev USING (hh) GROUP BY train_id, eval_id)
SELECT train_id, eval_id,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       CAST(eval_ngrams AS BIGINT) AS eval_ngrams,
       round(CAST(n_overlap AS DOUBLE) / eval_ngrams, 6) AS contamination_frac
FROM hits JOIN tot USING (eval_id)
"""


@register("text_contamination", _CONTAM_SQL)
def text_contamination(spark, sf_dir):
    """Benchmark-contamination detection: distinct 4-gram overlap between the
    hash_split train shard and the held-out (val+test) shard, scored as the
    covered fraction of each eval doc's n-grams. Only 64-bit md5 prefixes of
    the n-grams shuffle; the DuckDB oracle replays the identical split,
    shingling and hashing."""
    from .operators.text_analysis import contamination_check, hash_split
    d = hash_split(_t(spark, sf_dir, "documents"))
    return contamination_check(d.filter(F.col("split") == "train"),
                               d.filter(F.col("split") != "train"), n=4)


_BUDGET_SQL = r"""
WITH b AS (
  SELECT doc_id, source,
         CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                      w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT) AS n_tokens,
         md5(concat('budget:42:', CAST(doc_id AS VARCHAR))) AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM b
)
SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum <= 1000
"""


@register("text_domain_budget", _BUDGET_SQL)
def text_domain_budget(spark, sf_dir):
    """Per-domain token-budget sampling (data mixing): hash-ranked prefix of
    each source under a 1000-token cap. The engine computes the running sum
    two-phase (16 hash-prefix buckets + bucket-total stitch — the 100 TB
    shape); the oracle's single window proves the stitch is exact."""
    from .operators.text_analysis import domain_budget_sample
    return domain_budget_sample(_t(spark, sf_dir, "documents"), 1000)


_PACK_SQL = r"""
WITH RECURSIVE base AS (
  SELECT CAST(CAST(concat('0x', substr(md5(concat('pack:42:', CAST(doc_id AS VARCHAR))), 1, 16))
              AS UBIGINT) % 16 AS INTEGER) AS shard,
         CAST(doc_id AS BIGINT) AS doc_id,
         CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                      w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT) AS n_tokens
  FROM documents
), t AS MATERIALIZED (
  SELECT shard, doc_id, n_tokens,
         row_number() OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id) AS rn
  FROM base
), pack AS (
  SELECT shard, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin, n_tokens AS bin_fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.bin_fill + t.n_tokens > 512 THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.bin_fill + t.n_tokens > 512 THEN t.n_tokens ELSE p.bin_fill + t.n_tokens END
  FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT shard, doc_id, n_tokens, bin, bin_fill FROM pack
"""


def _textrank_sql(max_iter: int = 10, top_n: int = 30,
                  scale: int = 10**12, num: int = 85, den: int = 100) -> str:
    """TextRank oracle: the word-adjacency graph in SQL + the shared unrolled
    fixed-point PageRank recurrence (_pr_recurrence)."""
    head = r"""
WITH w AS MATERIALIZED (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS words
  FROM documents
), bg AS (
  SELECT unnest([{'a': least(words[i], words[i+1]),
                  'b': greatest(words[i], words[i+1])}
                 FOR i IN range(1, len(words))]) AS p
  FROM w WHERE len(words) >= 2
), e0 AS MATERIALIZED (
  SELECT p.a AS a, p.b AS b FROM bg WHERE p.a != p.b
  GROUP BY p.a, p.b HAVING count(*) >= 2
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL SELECT b AS src, a AS dst FROM e0
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
od AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
""" + f"r0 AS (SELECT node, {scale} // nn.n AS r FROM nodes, nn)"
    return (head + _pr_recurrence(max_iter, scale, num, den) + f"""
SELECT node AS keyword, CAST(r AS BIGINT) AS rank_scaled FROM r{max_iter}
QUALIFY row_number() OVER (ORDER BY r DESC, node ASC) <= {top_n}""")


@register("text_textrank_keywords", _textrank_sql())
def text_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction: fixed-point PageRank over the corpus
    word-adjacency graph, top-30 (operators/text_analysis.textrank_keywords).
    Integer recurrence => bit-identical ranks in both engines."""
    from .operators.text_analysis import textrank_keywords
    return textrank_keywords(_t(spark, sf_dir, "documents"))


@register("data_pack_sequences", _PACK_SQL)
def data_pack_sequences(spark, sf_dir):
    """Deterministic next-fit sequence packing into 512-token bins, sharded
    16 ways by portable hash (operators/packing.py). The per-shard linear
    recurrence is replayed exactly by the oracle's recursive CTE, so bin
    assignments AND running fills are value-hash-compared."""
    from .operators.packing import pack_sequences
    return pack_sequences(_t(spark, sf_dir, "documents"), max_tokens=512)


_PRETOK_SQL = r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_pretokens,
       CAST(len(list_filter(toks, x -> regexp_full_match(x, '[A-Za-z]+'))) AS BIGINT) AS n_alpha,
       CAST(len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS n_digit,
       md5(array_to_string(toks, chr(31))) AS tok_fp
FROM t
"""


@register("text_pretokenize", _PRETOK_SQL)
def text_pretokenize(spark, sf_dir):
    """BPE-style pre-tokenization (functions/text.pretokenize): exact letter
    / digit / punctuation-run segmentation — the reproducible unit count a
    training pipeline budgets by. The full token stream is fingerprinted so
    the oracle verifies the segmentation itself, not just counts. One
    codegen'd map-side scan."""
    from .functions.text import pretokenize
    toks = pretokenize(F.col("text"))
    d = _t(spark, sf_dir, "documents").select("doc_id", toks.alias("_t"))
    return d.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_pretokens"),
        F.size(F.filter(F.col("_t"), lambda x: x.rlike("^[A-Za-z]+$")))
        .cast("long").alias("n_alpha"),
        F.size(F.filter(F.col("_t"), lambda x: x.rlike("^[0-9]+$")))
        .cast("long").alias("n_digit"),
        F.md5(F.concat_ws("\x1f", F.col("_t"))).alias("tok_fp"))


_SCD2_SQL = """
SELECT user_id, event_id, event_type, value,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            AS BOOLEAN) AS is_current
FROM events
"""


@register("q_events_scd2", _SCD2_SQL)
def q_events_scd2(spark, sf_dir):
    """Slowly-changing-dimension type-2 history: each event opens a validity
    interval closed by the user's next event; the open interval is the
    current row. One window per user — the standard warehouse temporal-table
    materialization."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id", "event_id", "event_type", "value",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"))


_STRAT_SQL = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat('strat:42:', CAST(doc_id AS VARCHAR))), doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, source FROM r WHERE rn <= 5
"""


@register("data_stratified_sample", _STRAT_SQL)
def data_stratified_sample(spark, sf_dir):
    """Exact-quota stratified sampling: 5 hash-ranked docs per source
    (operators/text_analysis.stratified_sample) — the balanced-eval-set
    builder fraction sampling can't provide."""
    from .operators.text_analysis import stratified_sample
    return stratified_sample(_t(spark, sf_dir, "documents"), 5) \
        .select("doc_id", "source")


_COHORT_SQL = """
WITH f AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS first_day FROM events
  GROUP BY user_id
), c AS (
  SELECT user_id, date_trunc('week', first_day) AS cohort_week FROM f
), act AS (
  SELECT DISTINCT e.user_id, c.cohort_week,
         CAST(datediff('week', c.cohort_week,
                       date_trunc('week', CAST(e.ts AS DATE))) AS BIGINT) AS week_n
  FROM events e JOIN c ON e.user_id = c.user_id
), size_ AS (
  SELECT cohort_week, count(*) AS cohort_size FROM c GROUP BY cohort_week
)
SELECT a.cohort_week, a.week_n,
       count(*) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       round(CAST(count(*) AS DOUBLE) / s.cohort_size, 6) AS retention
FROM act a JOIN size_ s ON a.cohort_week = s.cohort_week
GROUP BY a.cohort_week, a.week_n, s.cohort_size
"""


@register("q_events_cohort_retention", _COHORT_SQL)
def q_events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-activity week, then
    the fraction still active k weeks later — the standard product-analytics
    triangle. Two aggregates + one equi-join on user_id; cohort sizes join
    back as a small broadcast-eligible dim."""
    e = _t(spark, sf_dir, "events")
    # cast to date: Spark date_trunc returns timestamp, the oracle a DATE —
    # the value compare stringifies both, so the types must agree
    first = (e.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts").cast("date"))
                   .cast("date").alias("cohort_week")))
    act = (e.join(first, "user_id")
            .select("user_id", "cohort_week",
                    F.floor(F.datediff(
                        F.date_trunc("week", F.col("ts").cast("date"))
                        .cast("date"),
                        F.col("cohort_week")) / 7).cast("long")
                    .alias("week_n"))
            .distinct())
    size = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    return (act.groupBy("cohort_week", "week_n")
               .agg(F.count(F.lit(1)).alias("n_active"))
               .join(size, "cohort_week")
               .select("cohort_week", "week_n", "n_active",
                       F.col("cohort_size").cast("long").alias("cohort_size"),
                       F.round(F.col("n_active")
                               / F.col("cohort_size").cast("double"), 6)
                       .alias("retention")))


# ───────────────────────── transcripts pipeline (rows-only) ─────────────────────────

_PIPE_CONVS = 200


def _pipeline(spark, enable_fuzzy: bool = True):
    """The 200-conversation pipeline build. enable_fuzzy=False is the
    deterministic path the REFERENCE implements (exact + known-alias
    resolution only, graph_tools.py:32-152); its expected output is
    pre-computed by the reference's own functions (scripts/gen_ref_fixture.py
    → ref_fixture.py) and served to DuckDB as a VALUES oracle — the
    flagship-semantics hard gate."""
    def build():
        from .plans.pipeline import run_pipeline
        from .sources.transcripts_gen import generate_transcripts

        res = run_pipeline(spark, generate_transcripts(spark, _PIPE_CONVS),
                           enable_fuzzy=enable_fuzzy)
        return res.nodes.persist(), res.edges.persist()

    # memoized: the nodes and edges queries each need the same build
    return _memo(spark, ("pipeline", _PIPE_CONVS, enable_fuzzy), build)


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _fuzzy_pin_sqls() -> tuple[str, str]:
    """Regression-pin oracles for the FUZZY pipeline (LSH + CC
    canonicalization): no external engine can adjudicate these semantics (the
    reference never fuzzy-merges; the deliberate divergence is P/R-gated in
    tests/test_parity.py), so the engine's own output — asserted
    parallelism-invariant at generation (scripts/gen_ref_fixture.py) — is
    pinned as VALUES to catch silent drift."""
    from . import ref_fixture

    nodes_vals = ", ".join(
        f"({_sql_str(c)}, {_sql_str(ct)}, {_sql_str(cat)}, {_sql_str(imp)},"
        f" {conf!r}, {n})"
        for c, ct, cat, imp, conf, n in ref_fixture.NODES_FUZZY)
    edges_vals = ", ".join(
        f"({_sql_str(s)}, {_sql_str(p)}, {_sql_str(o)}, {c}, {st!r}, {cf!r})"
        for s, p, o, c, st, cf in ref_fixture.EDGES_FUZZY)
    nodes_sql = (
        f"SELECT canon, canonical_term, primary_category, primary_importance,"
        f" CAST(avg_confidence AS DOUBLE) AS avg_confidence,"
        f" CAST(mention_count AS BIGINT) AS mention_count"
        f" FROM (VALUES {nodes_vals}) t(canon, canonical_term,"
        f" primary_category, primary_importance, avg_confidence, mention_count)")
    edges_sql = (
        f"SELECT subj, pred, obj, CAST(common AS BIGINT) AS common,"
        f" CAST(strength AS DOUBLE) AS strength,"
        f" CAST(confidence AS DOUBLE) AS confidence"
        f" FROM (VALUES {edges_vals}) t(subj, pred, obj, common, strength,"
        f" confidence)")
    return nodes_sql, edges_sql


_FUZZY_NODES_SQL, _FUZZY_EDGES_SQL = _fuzzy_pin_sqls()


@register("kg_pipeline_nodes", _FUZZY_NODES_SQL)  # full pipeline incl. LSH+CC
def kg_pipeline_nodes(spark, sf_dir):
    nodes, _ = _pipeline(spark)
    return nodes.select("canon", "canonical_term", "primary_category",
                        "primary_importance", "avg_confidence", "mention_count")


@register("kg_pipeline_edges", _FUZZY_EDGES_SQL)
def kg_pipeline_edges(spark, sf_dir):
    _, edges = _pipeline(spark)
    return edges.select("subj", "pred", "obj", "common", "strength", "confidence")


def _ref_fixture_sqls() -> tuple[str, str]:
    from . import ref_fixture

    nodes_vals = ", ".join(
        f"({_sql_str(c)}, {_sql_str(cat)}, {n})"
        for c, cat, n in ref_fixture.NODES)
    edges_vals = ", ".join(
        f"({_sql_str(s)}, {_sql_str(p)}, {_sql_str(o)}, {c}, {st!r}, {cf!r})"
        for s, p, o, c, st, cf in ref_fixture.EDGES)
    nodes_sql = (f"SELECT canon, first_category, CAST(mention_count AS BIGINT)"
                 f" AS mention_count FROM (VALUES {nodes_vals})"
                 f" t(canon, first_category, mention_count)")
    edges_sql = (f"SELECT subj, pred, obj, CAST(common AS BIGINT) AS common,"
                 f" CAST(strength AS DOUBLE) AS strength,"
                 f" CAST(confidence AS DOUBLE) AS confidence"
                 f" FROM (VALUES {edges_vals})"
                 f" t(subj, pred, obj, common, strength, confidence)")
    return nodes_sql, edges_sql


_REF_NODES_SQL, _REF_EDGES_SQL = _ref_fixture_sqls()


@register("kg_pipeline_nodes_exact", _REF_NODES_SQL)
def kg_pipeline_nodes_exact(spark, sf_dir):
    # CC roots components at the lexicographic min; the reference roots alias
    # groups at the alias TARGET (known_alias_resolution, graph_tools.py:
    # 120-127) — present canon in the reference's key space.
    from .functions.lexicon import apply_alias_sql
    nodes, _ = _pipeline(spark, enable_fuzzy=False)
    return nodes.select(
        F.expr(apply_alias_sql("canon")).alias("canon"),
        "first_category",
        F.col("mention_count").cast("long").alias("mention_count"))


@register("kg_pipeline_edges_exact", _REF_EDGES_SQL)
def kg_pipeline_edges_exact(spark, sf_dir):
    _, edges = _pipeline(spark, enable_fuzzy=False)
    return edges.select("subj", "pred", "obj", "common", "strength", "confidence")


def _chunks_fixture_sql() -> str:
    """Oracle for the distributed semantic-chunk scan: the same chunk spec
    evaluated single-process over the collected transcripts
    (scripts/gen_ref_fixture.py:_chunks_single_process) — verifies the
    applyInPandas grouping, per-conversation ordering and schema against a
    Spark-free evaluation."""
    from . import ref_fixture

    vals = ", ".join(
        f"({_sql_str(c)}, {i}, {f}, {l}, {w}, {coh!r}, {t})"
        for c, i, f, l, w, coh, t in ref_fixture.CHUNKS)
    return (f"SELECT conv_id, CAST(chunk_index AS INTEGER) AS chunk_index,"
            f" CAST(first_turn_idx AS INTEGER) AS first_turn_idx,"
            f" CAST(last_turn_idx AS INTEGER) AS last_turn_idx,"
            f" CAST(n_words AS INTEGER) AS n_words,"
            f" CAST(coherence AS DOUBLE) AS coherence,"
            f" CAST(topic_cluster AS INTEGER) AS topic_cluster"
            f" FROM (VALUES {vals}) t(conv_id, chunk_index, first_turn_idx,"
            f" last_turn_idx, n_words, coherence, topic_cluster)")


@register("kg_semantic_chunks")  # oracle attached below once fixture exists
def kg_semantic_chunks(spark, sf_dir):
    from .operators.chunking import merge_small_chunks, semantic_chunks
    from .sources.transcripts_gen import generate_transcripts

    t = generate_transcripts(spark, _PIPE_CONVS)
    return merge_small_chunks(semantic_chunks(t)).select(
        "conv_id", "chunk_index", "first_turn_idx", "last_turn_idx",
        "n_words", "coherence", "topic_cluster")


try:
    ORACLE["kg_semantic_chunks"] = _chunks_fixture_sql()
except AttributeError:  # fixture generated before CHUNKS existed
    pass


def _multimodal_sql(n: int = 96, seed: int = 42) -> str:
    """Multimodal oracle: the synthetic payload is sha2-512 hex of
    f"{seed}{id}" (sources/multimodal.synthetic_media) and the fake decode's
    features are pure functions of those bytes — recomputed here in plain
    Python (hashlib, no Spark) and served as VALUES. Verifies the
    mapInPandas plumbing (binary batching, schema, image-row routing)
    against an independent evaluation of the same spec."""
    import hashlib

    rows = []
    for i in range(0, n, 3):  # kind == image ⇔ id % 3 == 0
        payload = hashlib.sha512(f"{seed}{i}".encode()).hexdigest().encode()
        w = 64 + (len(payload) % 1024)
        h = 64 + (sum(payload[:16]) % 1024)
        rows.append(f"({i}, {w}, {h}, {len(payload)})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(n_bytes AS BIGINT) AS n_bytes"
            f" FROM (VALUES {', '.join(rows)}) t(media_id, width, height, n_bytes)")


@register("multimodal_image_features", _multimodal_sql())
def multimodal_image_features(spark, sf_dir):
    from .sources.multimodal import extract_image_features, synthetic_media
    return extract_image_features(synthetic_media(spark, 96)).select(
        "media_id", "width", "height", "n_bytes")


def _bmp_fixture_sql(n: int = 48, seed: int = 42) -> str:
    """Oracle for the REAL BMP decode path: the synthetic image pixels are
    pure formulas of (x, y, id) (sources/multimodal.synthetic_bmp_media), so
    the expected channel means are recomputed here in plain Python — no
    numpy, no BMP bytes — from the pattern directly. If the encoder or the
    decoder corrupted a single pixel, the integer sums (and the hash) would
    differ. Means are exact: integer sums divided once (both engines)."""
    rows = []
    for i in range(0, n, 3):  # kind == image ⇔ id % 3 == 0
        w = 16 + (i * 5 + seed) % 17
        h = 16 + (i * 7 + seed) % 13
        rsum = gsum = bsum = 0
        for y in range(h):
            for x in range(w):
                rsum += (x * 3 + y * 5 + i) % 256
                gsum += (x + y * 2 + i * 11) % 256
                bsum += (x * 7 + y + i * 3) % 256
        npx = w * h
        stride = (w * 3 + 3) & ~3          # BMP rows pad to 4 bytes
        n_bytes = 14 + 40 + h * stride     # headers + pixel data
        rows.append(f"({i}, {w}, {h}, {n_bytes}, {rsum / npx!r},"
                    f" {gsum / npx!r}, {bsum / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(n_bytes AS BIGINT) AS n_bytes,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, n_bytes, r_mean, g_mean, b_mean)")


@register("multimodal_bmp_features", _bmp_fixture_sql())
def multimodal_bmp_features(spark, sf_dir):
    """REAL image decode end to end: genuine BMP bytes generated, parsed and
    pixel-decoded inside mapInPandas (sources/multimodal.decode_bmp) — the
    un-stubbed half of the multimodal component."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_bmp_media,
    )
    return extract_image_features_real(synthetic_bmp_media(spark, 48)).select(
        "media_id", "width", "height", "n_bytes", "r_mean", "g_mean", "b_mean")


_CTX_SQL = """
SELECT d.doc_id,
       CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_words
FROM documents d
WHERE len(string_split_regex(trim(d.text), '\\s+')) >= 20
  AND NOT regexp_matches(lower(d.text), '^(page |chapter )')
"""


@register("kg_substantive_filter", _CTX_SQL)
def kg_substantive_filter(spark, sf_dir):
    """The reference's substantive-chunk predicate (concept_extractor.py:
    355-378): word_count >= 20 and no header-skip pattern."""
    from .functions.text import word_count
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter((word_count(F.col("text")) >= 20)
                 & ~F.lower(F.col("text")).rlike(r"^(page |chapter )"))
        .select("doc_id", word_count(F.col("text")).cast("long").alias("n_words"))
    )


# ───────────────────────── round-4 additions ─────────────────────────

def _kcore_sql(k: int = 5, n_rounds: int = 6, min_cooc: int = 322) -> str:
    """k-core oracle: the synchronous batch-peel recurrence unrolled one
    MATERIALIZED CTE per round (the pagerank/LPA-oracle technique) — integer
    degrees only, so any engine agrees bit-for-bit. min_cooc sparsifies the
    co-occurrence graph (at the default threshold 2 the sf0.01 graph is the
    complete K15 and peeling is a no-op)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e
), a0 AS MATERIALIZED (SELECT DISTINCT node FROM bd)"""
    steps = []
    for i in range(1, n_rounds + 1):
        p = f"a{i - 1}"
        steps.append(f""",
a{i} AS MATERIALIZED (
  SELECT bd.node FROM bd
  JOIN {p} x ON bd.node = x.node JOIN {p} y ON bd.nbr = y.node
  GROUP BY bd.node HAVING count(*) >= {k}
)""")
    return (head + "".join(steps) + f"""
SELECT bd.node, CAST(count(*) AS BIGINT) AS core_deg
FROM bd JOIN a{n_rounds} x ON bd.node = x.node
JOIN a{n_rounds} y ON bd.nbr = y.node
GROUP BY bd.node""")


@register("kg_kcore_docs", _kcore_sql())
def kg_kcore_docs(spark, sf_dir):
    """k-core decomposition (k=5) of the SPARSIFIED document co-occurrence
    graph (min_cooccurrences=322 — the default-2 graph is complete at
    sf0.01): operators/graph_algos.k_core, synchronous batch peeling with
    fixed rounds so the run is deterministic under any partitioning."""
    from .operators.graph_algos import k_core
    edges = _cooc_edges(spark, sf_dir, 322)
    return k_core(edges.withColumnRenamed("term_a", "subj")
                       .withColumnRenamed("term_b", "obj"),
                  k=5, n_rounds=6)


from .operators.sketches import hll_sql as _hll_sql  # noqa: E402


@register("sketch_distinct_events", _hll_sql("events", "event_id", ["event_type"]))
def sketch_distinct_events(spark, sf_dir):
    """Cardinality sketches per event_type (operators/sketches
    .hll_kmv_distinct): deterministic HyperLogLog registers + KMV frontier,
    both md5-portable so estimates are value-identical across engines. The
    exact count rides along for the error report."""
    from .operators.sketches import hll_kmv_distinct
    return hll_kmv_distinct(_t(spark, sf_dir, "events"), "event_id",
                            ["event_type"])


_COLLOC_SQL = """
WITH base AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     w -> w != '') AS words
  FROM documents
), uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(words) AS tok FROM base) GROUP BY tok
), n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
bc AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab
  FROM (SELECT unnest([words[i] || ' ' || words[i + 1]
                       for i in range(1, len(words))]) AS bigram
        FROM base)
  GROUP BY bigram
)
SELECT bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
       (c_ab * n.n * 1000000) // (ua.c * ub.c) AS lift_e6
FROM bc
JOIN uni ua ON ua.tok = split_part(bigram, ' ', 1)
JOIN uni ub ON ub.tok = split_part(bigram, ' ', 2)
CROSS JOIN n
ORDER BY c_ab DESC, bigram LIMIT 30
"""


@register("text_collocations", _COLLOC_SQL)
def text_collocations(spark, sf_dir):
    """Bigram collocation mining with integer fixed-point lift
    (operators/text_analysis.collocations) — the KG term-extraction step."""
    from .operators.text_analysis import collocations
    return collocations(_t(spark, sf_dir, "documents"), top_n=30)


def _hybrid_sql(terms=("spark", "join", "vector"), query_vec: int = 0,
                k: int = 20, n_each: int = 50, rrf_k: int = 60) -> str:
    """Hybrid-RRF oracle: the BM25 and cosine branches are the two
    already-proven oracle queries (same literals, same parenthesization),
    and the fusion adds exactly one reciprocal + one two-operand double
    addition per row — deterministic with no extra discipline."""
    bm = _bm25_sql(terms=terms, k=n_each)
    return f"""
WITH bm AS MATERIALIZED (
  SELECT doc_id AS id, rank AS bm25_rank FROM ({bm})
), cosr AS MATERIALIZED (
  SELECT id, CAST(rank AS BIGINT) AS cos_rank FROM (
    SELECT a.vec_id AS id,
           row_number() OVER (
             ORDER BY round(list_dot_product(a.embedding::DOUBLE[], q.qv)
                   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
                      a.vec_id ASC) AS rank
    FROM embeddings a,
         (SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = {query_vec}) q
    WHERE a.vec_id != {query_vec}
  ) WHERE rank <= {n_each}
), fused AS (
  SELECT coalesce(bm.id, cosr.id) AS doc_id,
         round(coalesce(CAST(1.0 AS DOUBLE) / ({rrf_k} + bm.bm25_rank),
                        CAST(0.0 AS DOUBLE))
               + coalesce(CAST(1.0 AS DOUBLE) / ({rrf_k} + cosr.cos_rank),
                          CAST(0.0 AS DOUBLE)), 6) AS rrf_score,
         CAST(coalesce(bm.bm25_rank, 0) AS BIGINT) AS bm25_rank,
         CAST(coalesce(cosr.cos_rank, 0) AS BIGINT) AS cos_rank
  FROM bm FULL OUTER JOIN cosr ON bm.id = cosr.id
)
SELECT doc_id, rrf_score, bm25_rank, cos_rank,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {k}
"""


@register("search_hybrid_rrf", _hybrid_sql())
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid sparse+dense retrieval fused by Reciprocal Rank Fusion
    (operators/tfidf.hybrid_rrf): BM25 top-50 + cosine top-50 for the
    vec_id=0 query, 1/(60+rank) fusion."""
    from .operators.tfidf import hybrid_rrf
    return hybrid_rrf(_t(spark, sf_dir, "documents"),
                      _t(spark, sf_dir, "embeddings"),
                      ["spark", "join", "vector"], query_vec_id=0,
                      k=20, n_each=50)


def _components_sql(min_cooc: int = 330, n_rounds: int = 12) -> str:
    """Connected-components oracle: synchronous min-label propagation
    unrolled (label spreads one hop per round; 12 rounds covers any diameter
    of the <=15-node doc graph). The ENGINE side runs the real large-star /
    small-star operator (canonicalize.connected_components, driver path
    disabled) — both converge to the unique (member, component-min) fixed
    point, so the unrolled recurrence is a valid oracle for the SOCC'14
    algorithm without mirroring its star transformations."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
l0 AS (SELECT node, node AS lbl FROM nodes)"""
    steps = []
    for i in range(1, n_rounds + 1):
        p = f"l{i - 1}"
        steps.append(f""",
l{i} AS MATERIALIZED (
  SELECT nd.node, least(s.lbl, coalesce(nb.mn, s.lbl)) AS lbl
  FROM nodes nd
  JOIN {p} s ON s.node = nd.node
  LEFT JOIN (SELECT bd.node, min(pv.lbl) AS mn
             FROM bd JOIN {p} pv ON pv.node = bd.nbr
             GROUP BY bd.node) nb ON nb.node = nd.node
)""")
    return (head + "".join(steps)
            + f"\nSELECT node AS norm_term, lbl AS canon FROM l{n_rounds}")


@register("kg_components_docs", _components_sql())
def kg_components_docs(spark, sf_dir):
    """Weakly-connected components of the sparsified doc co-occurrence graph
    via the REAL canonicalization operator (canonicalize.connected_components
    — Kiveris et al. SOCC'14 large-star/small-star; driver_threshold=0
    forces the distributed iteration, the same code path a 10^9-edge
    candidate graph takes)."""
    from .operators.canonicalize import connected_components
    edges = _cooc_edges(spark, sf_dir, 330)
    return connected_components(
        edges.select(F.col("term_a").alias("src"), F.col("term_b").alias("dst")),
        driver_threshold=0)


from .operators.sketches import cms_sql as _cms_sql  # noqa: E402

_TOK_STREAM = ("(SELECT unnest(list_filter(string_split_regex(lower(trim(text)),"
               " '\\s+'), w -> w != '')) AS tok FROM documents)")


@register("sketch_cms_terms",
          _cms_sql(_TOK_STREAM, "tok", [t for t, _ in kg_docs.DOC_LEXICON]))
def sketch_cms_terms(spark, sf_dir):
    """Count-Min frequency estimates for the 15 lexicon terms over the full
    document token stream (operators/sketches.cms_estimate) — the d·w-row
    heavy-hitter sketch next to the exact counts it upper-bounds."""
    from .operators.sketches import cms_estimate
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                     lambda w: w != "")
    toks = docs.select(F.explode(words).alias("tok"))
    return cms_estimate(toks, "tok", [t for t, _ in kg_docs.DOC_LEXICON])


_ALIAS_CAND_SQL = """
WITH vocab AS MATERIALIZED (
  SELECT DISTINCT tok FROM (
    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              w -> w != '')) AS tok
    FROM documents)
)
SELECT a.tok AS word_a, b.tok AS word_b,
       CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
FROM vocab a JOIN vocab b ON a.tok < b.tok
WHERE levenshtein(a.tok, b.tok) <= 2
"""


@register("kg_alias_candidates_docs", _ALIAS_CAND_SQL)
def kg_alias_candidates_docs(spark, sf_dir):
    """Fuzzy-alias candidate generation by edit distance over the corpus
    vocabulary (the reference's typo-variant phase, entity_resolver.py
    fuzzy path, re-expressed as a bounded self-join): distinct-word
    self-join, levenshtein <= 2. Integer distances — engine-exact. At
    corpus scale the raw O(V²) pair space is pre-blocked (sorted-chars /
    length buckets, operators/link.py) — V here is tiny so the query
    exercises the unblocked kernel."""
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                     lambda w: w != "")
    vocab = docs.select(F.explode(words).alias("tok")).distinct()
    a = vocab.select(F.col("tok").alias("word_a"))
    b = vocab.select(F.col("tok").alias("word_b"))
    return (
        a.join(b, F.col("word_a") < F.col("word_b"))
        .withColumn("dist", F.levenshtein("word_a", "word_b").cast("long"))
        .filter(F.col("dist") <= 2)
        .select("word_a", "word_b", "dist")
    )


def _ppr_sql(seed: str = "spark", max_iter: int = 15, scale: int = 10**12,
             num: int = 85, den: int = 100) -> str:
    """Personalized-PageRank oracle — the pagerank_scaled(personalize=seed)
    integer recurrence unrolled (the _pagerank_sql technique): restart mass
    and dangling mass land on the seed only."""
    base = ((den - num) * scale) // den
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS src, b.term AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
),
od AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, CASE WHEN node = '{seed}' THEN {scale} ELSE 0 END AS r
       FROM nodes)"""
    steps = []
    for i in range(1, max_iter + 1):
        p = f"r{i - 1}"
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT nodes.node,
         (CASE WHEN nodes.node = '{seed}' THEN {base} ELSE 0 END)
         + ({num} * (coalesce(s.in_sum, 0)
                     + (CASE WHEN nodes.node = '{seed}' THEN dg.dang ELSE 0 END)))
           // {den} AS r
  FROM nodes
  LEFT JOIN (SELECT e.dst AS node, sum(r.r // od.deg) AS in_sum
             FROM e JOIN {p} r ON e.src = r.node JOIN od ON od.node = e.src
             GROUP BY e.dst) s ON s.node = nodes.node
  CROSS JOIN (SELECT coalesce(sum(r.r), 0) AS dang
              FROM {p} r LEFT JOIN od ON r.node = od.node
              WHERE od.node IS NULL) dg
)""")
    return (head + "".join(steps)
            + f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled FROM r{max_iter}")


@register("kg_ppr_docs", _ppr_sql())
def kg_ppr_docs(spark, sf_dir):
    """Personalized PageRank (random walk with restart, Jeh & Widom WWW'03)
    seeded at 'spark' over the doc co-occurrence graph — the 'related
    concepts' ranking primitive; fixed-point integers end-to-end
    (graph_algos.pagerank_scaled(personalize=...))."""
    from .operators.graph_algos import pagerank_scaled
    edges = _typed_edges(spark, sf_dir)
    return pagerank_scaled(edges.withColumnRenamed("term_a", "subj")
                           .withColumnRenamed("term_b", "obj"),
                           max_iter=15, personalize="spark")


_NORM_STATS_SQL = """
WITH n AS (
  SELECT label,
         CAST(round(round(sqrt(list_dot_product(embedding::DOUBLE[],
                                                embedding::DOUBLE[])), 6)
                    * 1000000.0, 0) AS BIGINT) AS nq
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round((sum(nq) / 1000000.0) / count(*), 6) AS avg_norm,
       round(min(nq) / 1000000.0, 6) AS min_norm,
       round(max(nq) / 1000000.0, 6) AS max_norm
FROM n GROUP BY label
"""


@register("q_embeddings_norm_stats", _NORM_STATS_SQL)
def q_embeddings_norm_stats(spark, sf_dir):
    """Per-label L2-norm statistics over the embedding column via
    higher-order array functions (the corpus-QA check before any ANN build:
    zero / degenerate norms surface here). Norms are 6-dp fixed-point longs
    so the mean is an exact integer sum — the repo-wide float discipline."""
    from .functions.vectors import dot
    embs = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nq = F.round(F.round(F.sqrt(dot(v, v)), 6) * F.lit(1e6), 0).cast("long")
    return (
        embs.select("label", nq.alias("nq"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
             F.round((F.sum("nq") / F.lit(1e6)) / F.count(F.lit(1)), 6)
             .alias("avg_norm"),
             F.round(F.min("nq") / F.lit(1e6), 6).alias("min_norm"),
             F.round(F.max("nq") / F.lit(1e6), 6).alias("max_norm"))
    )


def _wav_fixture_sql(n: int = 48, seed: int = 42) -> str:
    """Oracle for the REAL WAV/PCM decode path (the audio half of
    synthetic_bmp_media): the synthetic tones are pure formulas of (id, t),
    so the expected features are recomputed here in plain Python — stdlib
    math only, no numpy, no WAV bytes (verified bit-identical to the numpy
    synthesis: libm sin on float64 + truncate-toward-zero int16 cast).
    Sample sums of squares are exact ints; rms/duration are single float
    divisions — identical doubles in any engine, embedded via repr()."""
    import math

    rows = []
    for i in range(1, n, 3):  # kind == audio ⇔ id % 3 == 1
        rate = 8000
        ns = 400 + (i % 5) * 80
        freq = 200.0 + (i * 37 + seed) % 600
        x = [int(math.sin(2 * math.pi * freq * t / rate) * 12000)
             for t in range(ns)]
        s2 = sum(v * v for v in x)
        rms = math.sqrt(s2 / ns)
        zc = sum(1 for a, b in zip(x[:-1], x[1:]) if (a < 0) != (b < 0))
        rows.append(f"({i}, {rate}, {ns}, {ns / rate!r}, {rms!r}, {zc})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(sample_rate AS INTEGER) AS sample_rate,"
            f" CAST(n_samples AS BIGINT) AS n_samples,"
            f" CAST(duration_s AS DOUBLE) AS duration_s,"
            f" CAST(rms AS DOUBLE) AS rms,"
            f" CAST(zero_crossings AS BIGINT) AS zero_crossings"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, sample_rate, n_samples, duration_s, rms,"
            f" zero_crossings)")


@register("multimodal_wav_features", _wav_fixture_sql())
def multimodal_wav_features(spark, sf_dir):
    """REAL WAV/PCM audio decode in mapInPandas
    (sources/multimodal.extract_audio_features): sample rate, duration, RMS,
    zero crossings — the audio half of the multimodal component, against a
    pure-Python re-derivation of the expected features."""
    from .sources.multimodal import (
        extract_audio_features,
        synthetic_bmp_media,
    )
    out = extract_audio_features(synthetic_bmp_media(spark, 48))
    return out.select("media_id",
                      F.col("sample_rate").cast("int").alias("sample_rate"),
                      F.col("n_samples").cast("long").alias("n_samples"),
                      "duration_s", "rms",
                      F.col("zero_crossings").cast("long")
                      .alias("zero_crossings"))


def _graph_stats_sql(min_cooc: int = 330) -> str:
    """Graph-stats oracle: edge/node counts recomputed from the same
    co-occurrence CTEs, component count from the unrolled min-label CC
    (_components_sql embedded as a subquery); density / avg-degree are the
    reference's exact formulas (graph_builder.py:136-154) with identical
    float association in both engines."""
    comp = _components_sql(min_cooc=min_cooc)
    edges = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
)
SELECT a.term AS a, b.term AS b
FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
GROUP BY a.term, b.term
HAVING count(*) >= {min_cooc}"""
    return f"""
WITH cstats AS (
  SELECT CAST(count(DISTINCT norm_term) AS BIGINT) AS n_nodes,
         CAST(count(DISTINCT canon) AS BIGINT) AS n_components
  FROM ({comp})
), estats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ({edges})
)
SELECT n_nodes, n_edges,
       round(n_edges / (n_nodes * (n_nodes - 1.0)), 6) AS density,
       round((2.0 * n_edges) / n_nodes, 6) AS avg_degree,
       n_components
FROM cstats CROSS JOIN estats
"""


@register("kg_graph_stats_docs", _graph_stats_sql())
def kg_graph_stats_docs(spark, sf_dir):
    """Graph summary statistics (graph_algos.graph_stats formulas —
    reference graph_builder.py:136-154) + weakly-connected-component count
    over the sparsified doc co-occurrence graph; CC via the real
    large-star/small-star operator on its distributed path."""
    from .operators.canonicalize import connected_components
    edges = _cooc_edges(spark, sf_dir, 330)
    asn = connected_components(
        edges.select(F.col("term_a").alias("src"),
                     F.col("term_b").alias("dst")),
        driver_threshold=0)
    cstats = asn.agg(
        F.countDistinct("norm_term").cast("long").alias("n_nodes"),
        F.countDistinct("canon").cast("long").alias("n_components"))
    estats = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        cstats.crossJoin(estats)
        .select("n_nodes", "n_edges",
                F.round(F.col("n_edges")
                        / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1.0))),
                        6).alias("density"),
                F.round((F.lit(2.0) * F.col("n_edges")) / F.col("n_nodes"),
                        6).alias("avg_degree"),
                "n_components")
    )


_CHUNK_LINKS_SQL = """
SELECT doc_id,
       CAST(coalesce(lag(doc_id) OVER w, -1) AS BIGINT) AS prev_doc_id,
       CAST(coalesce(lead(doc_id) OVER w, -1) AS BIGINT) AS next_doc_id,
       CAST(row_number() OVER w AS BIGINT) AS pos
FROM documents
WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
"""


@register("kg_chunk_links_docs", _CHUNK_LINKS_SQL)
def kg_chunk_links_docs(spark, sf_dir):
    """prev/next chunk linking (the reference's chunk chain,
    operators/extract.py lag/lead pattern) expressed over the documents
    corpus partitioned by lang — sentinel -1 for chain ends so the columns
    stay non-null BIGINTs."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return d.select(
        "doc_id",
        F.coalesce(F.lag("doc_id").over(w), F.lit(-1)).cast("long")
        .alias("prev_doc_id"),
        F.coalesce(F.lead("doc_id").over(w), F.lit(-1)).cast("long")
        .alias("next_doc_id"),
        F.row_number().over(w).cast("long").alias("pos"))


def _dedup_clusters_sql(n_rounds: int = 8) -> str:
    """Dedup-cluster oracle: the n-gram-Jaccard pair query (already proven)
    feeds an unrolled min-label CC; doc ids are zero-padded so the
    string-min canon equals the numeric min."""
    head = f"""
WITH pairs AS MATERIALIZED ({_NGRAM_JACCARD_SQL}),
bd AS MATERIALIZED (
  SELECT lpad(CAST(id_a AS VARCHAR), 6, '0') AS node,
         lpad(CAST(id_b AS VARCHAR), 6, '0') AS nbr FROM pairs
  UNION
  SELECT lpad(CAST(id_b AS VARCHAR), 6, '0'),
         lpad(CAST(id_a AS VARCHAR), 6, '0') FROM pairs
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
l0 AS (SELECT node, node AS lbl FROM nodes)"""
    steps = []
    for i in range(1, n_rounds + 1):
        p = f"l{i - 1}"
        steps.append(f""",
l{i} AS MATERIALIZED (
  SELECT nd.node, least(s.lbl, coalesce(nb.mn, s.lbl)) AS lbl
  FROM nodes nd
  JOIN {p} s ON s.node = nd.node
  LEFT JOIN (SELECT bd.node, min(pv.lbl) AS mn
             FROM bd JOIN {p} pv ON pv.node = bd.nbr
             GROUP BY bd.node) nb ON nb.node = nd.node
)""")
    return (head + "".join(steps) + f"""
SELECT CAST(node AS BIGINT) AS doc_id, CAST(lbl AS BIGINT) AS cluster_rep
FROM l{n_rounds}""")


@register("dedup_clusters_docs", _dedup_clusters_sql())
def dedup_clusters_docs(spark, sf_dir):
    """Near-duplicate CLUSTER formation — pairs are not enough for corpus
    dedup (keep one doc per transitive group): n-gram-Jaccard pairs →
    connected components (the real large-star/small-star operator on its
    distributed path) → (doc_id, cluster_rep = min doc id of the group).
    Zero-padded string node ids make the component's lexicographic min the
    numeric min."""
    from .operators.canonicalize import connected_components
    from .operators.dedup import ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                threshold=0.1)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 6, "0")
    asn = connected_components(
        pairs.select(pad("id_a").alias("src"), pad("id_b").alias("dst")),
        driver_threshold=0)
    return asn.select(F.col("norm_term").cast("long").alias("doc_id"),
                      F.col("canon").cast("long").alias("cluster_rep"))


_DEGREE_DIST_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 322
), bd AS (SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM bd GROUP BY node)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""


@register("kg_degree_distribution_docs", _DEGREE_DIST_SQL)
def kg_degree_distribution_docs(spark, sf_dir):
    """Degree-distribution profile of the sparsified co-occurrence graph
    (degree → node count) — the first diagnostic of any KG build (hub
    detection, power-law check); two integer aggregates."""
    edges = _cooc_edges(spark, sf_dir, 322)
    bd = (edges.select(F.col("term_a").alias("node"))
          .unionAll(edges.select(F.col("term_b").alias("node"))))
    deg = bd.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"))


_LEN_PCTL_SQL = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(quantile_cont(n_chars, 0.25), 6) AS p25,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.75), 6) AS p75,
       round(quantile_cont(n_chars, 0.95), 6) AS p95
FROM documents GROUP BY source
"""


@register("text_length_percentiles", _LEN_PCTL_SQL)
def text_length_percentiles(spark, sf_dir):
    """Per-source document-length quantiles (corpus QA before filtering):
    Spark percentile() ≡ DuckDB quantile_cont() — both type-7 linear
    interpolation over exact integers (the q_events_quantiles recipe);
    percentile_approx is the documented 100 TB swap."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             *[F.round(F.expr(f"percentile(n_chars, {q})"), 6).alias(n)
               for q, n in [(0.25, "p25"), (0.5, "p50"),
                            (0.75, "p75"), (0.95, "p95")]])
    )


_REPEATED_NGRAMS_SQL = """
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             w -> w != '') AS words
  FROM documents
), g AS (
  SELECT doc_id,
         unnest([array_to_string(words[i:i+4], ' ')
                 for i in range(1, len(words) - 5 + 2)]) AS ngram
  FROM base WHERE len(words) >= 5
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occ DESC, n_docs DESC, ngram ASC LIMIT 50
"""


@register("text_repeated_ngrams", _REPEATED_NGRAMS_SQL)
def text_repeated_ngrams(spark, sf_dir):
    """Cross-document repeated 5-gram spans (operators/text_analysis
    .repeated_ngrams) — the substring-level dedup signal of Lee et al. 2022;
    top-50 by total occurrences with document frequency. The LIMIT boundary
    is deterministic because the sort key ends in the unique ngram string."""
    from .operators.text_analysis import repeated_ngrams
    return repeated_ngrams(_t(spark, sf_dir, "documents"),
                           n=5, min_docs=2, top_n=50)


_TEMPERATURE_SQL = """
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), w AS (
  SELECT lang, n_docs,
         CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000, 0) AS BIGINT) AS w_e6
  FROM c
), t AS (SELECT CAST(sum(w_e6) AS BIGINT) AS tot FROM w)
SELECT lang, n_docs, w_e6,
       (w_e6 * 1000000) // tot AS p_e6,
       ((w_e6 * 1000000) // tot) * 100000 // 1000000 AS planned_docs
FROM w CROSS JOIN t
"""


@register("text_temperature_weights", _TEMPERATURE_SQL)
def text_temperature_weights(spark, sf_dir):
    """Temperature-based language rebalancing (operators/text_analysis
    .temperature_weights): p_i ∝ sqrt(n_i) with a fixed-point e6 weight —
    alpha pinned at 1/2 because IEEE sqrt is correctly rounded in every
    engine (pow(x, 0.7) is not); planned doc counts for a 100k budget."""
    from .operators.text_analysis import temperature_weights
    return temperature_weights(_t(spark, sf_dir, "documents"),
                               budget_docs=100_000, group_col="lang")


from .operators.sketches import kmv_jaccard_sql as _kmv_jaccard_sql  # noqa: E402


@register("sketch_jaccard_events", _kmv_jaccard_sql("events", "user_id", "event_type"))
def sketch_jaccard_events(spark, sf_dir):
    """Pairwise audience overlap between event types via KMV synopses
    (operators/sketches.kmv_jaccard): sketch-estimated AND exact Jaccard as
    integer e6 ratios — the k-row-per-group scale path for set similarity
    (Beyer et al., SIGMOD'07)."""
    from .operators.sketches import kmv_jaccard
    return kmv_jaccard(_t(spark, sf_dir, "events"), "user_id", "event_type")


def _walks_sql(length: int = 4, seed: int = 42, min_cooc: int = 322) -> str:
    """Random-walk oracle: each deterministic hash-argmin step unrolled as
    one MATERIALIZED CTE (the k-core/pagerank-oracle technique). The step
    key min(md5('walk:{seed}:{walk_id}:{t}:{nbr}') || ':' || nbr) and the
    substr(.., 34) extraction mirror the Spark expressions byte-for-byte."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e
), w0 AS MATERIALIZED (
  SELECT DISTINCT src || '#0' AS walk_id, src AS start, src AS cur, src AS path
  FROM bd
)"""
    steps = []
    for t in range(1, length + 1):
        p = f"w{t - 1}"
        key = (f"md5('walk:{seed}:' || walk_id || ':{t}:' || bd.dst)"
               f" || ':' || bd.dst")
        steps.append(f""",
w{t} AS MATERIALIZED (
  SELECT walk_id, start,
         substr(min({key}), 34) AS cur,
         path || '>' || substr(min({key}), 34) AS path
  FROM {p} JOIN bd ON {p}.cur = bd.src
  GROUP BY walk_id, start, path
)""")
    return head + "".join(steps) + f"""
SELECT walk_id, start, path FROM w{length}"""


@register("kg_random_walks_docs", _walks_sql())
def kg_random_walks_docs(spark, sf_dir):
    """DeepWalk-style deterministic walk corpus over the sparsified doc
    co-occurrence graph (operators/graph_algos.random_walks): 4-step walks
    from every node, hash-argmin next-step choice — reproducible across
    engines/retries, the walk-corpus generator for embedding training."""
    from .operators.graph_algos import random_walks
    edges = _cooc_edges(spark, sf_dir, 322)
    return random_walks(edges.withColumnRenamed("term_a", "subj")
                             .withColumnRenamed("term_b", "obj"),
                        length=4, walks_per_node=1, seed=42)


def _ktruss_sql(k: int = 5, n_rounds: int = 6, min_cooc: int = 322) -> str:
    """k-truss oracle: the synchronous peel recurrence unrolled — per round a
    bd CTE (undirected adjacency of the surviving edges) and the triangle-
    support HAVING filter; pure integer counts, so engines agree exactly."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
)"""
    steps = []
    for i in range(n_rounds):
        steps.append(f""",
bd{i} AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e{i} UNION ALL SELECT b, a FROM e{i}
), e{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b
  FROM e{i} e
  JOIN bd{i} x ON e.a = x.u
  JOIN bd{i} y ON e.b = y.u AND x.v = y.v
  GROUP BY e.a, e.b
  HAVING count(*) >= {k - 2}
)""")
    n = n_rounds
    return head + "".join(steps) + f""",
bdf AS (SELECT a AS u, b AS v FROM e{n} UNION ALL SELECT b, a FROM e{n})
SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
FROM e{n} e
JOIN bdf x ON e.a = x.u
JOIN bdf y ON e.b = y.u AND x.v = y.v
GROUP BY e.a, e.b"""


@register("kg_ktruss_docs", _ktruss_sql())
def kg_ktruss_docs(spark, sf_dir):
    """5-truss of the sparsified doc co-occurrence graph (operators/
    graph_algos.k_truss): every surviving edge sits in >= 3 triangles of the
    surviving subgraph — the triangle-supported core of the concept graph."""
    from .operators.graph_algos import k_truss
    edges = _cooc_edges(spark, sf_dir, 322)
    return k_truss(edges.withColumnRenamed("term_a", "subj")
                        .withColumnRenamed("term_b", "obj"),
                   k=5, n_rounds=6)


def _modularity_sql(n_iters: int = 5, min_cooc: int = 322) -> str:
    """Modularity oracle: the shared LPA recurrence labels the SPARSIFIED
    graph, then the per-community Q contribution is the exact integer
    fraction (4·m·e_c − d_c², 4·m²) — no float anywhere."""
    return _lpa_ctes(n_iters, min_cooc) + f""",
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM bd GROUP BY node),
lab AS (SELECT node, label AS community FROM l{n_iters}),
ein AS (
  SELECT la.community, CAST(count(*) AS BIGINT) AS e_in
  FROM e JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b
  WHERE la.community = lb.community GROUP BY la.community
), perc AS (
  SELECT community, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(coalesce(sum(d), 0) AS BIGINT) AS d_tot
  FROM lab LEFT JOIN deg USING (node) GROUP BY community
)
SELECT p.community, p.n_nodes, coalesce(ein.e_in, 0) AS e_in, p.d_tot,
       4 * mm.m * coalesce(ein.e_in, 0) - p.d_tot * p.d_tot AS q_num,
       4 * mm.m * mm.m AS q_den
FROM perc p LEFT JOIN ein ON ein.community = p.community CROSS JOIN mm"""


@register("kg_modularity_docs", _modularity_sql())
def kg_modularity_docs(spark, sf_dir):
    """Per-community modularity components (operators/graph_algos
    .modularity) of the LPA communities on the sparsified co-occurrence
    graph — exact integer fractions, Σ q_num / q_den reconstructs Newman's
    Q bit-exactly."""
    from .operators.graph_algos import label_propagation, modularity
    edges = _cooc_edges(spark, sf_dir, 322)
    e = (edges.withColumnRenamed("term_a", "subj")
              .withColumnRenamed("term_b", "obj"))
    return modularity(e, label_propagation(e, n_iters=5))


_ASSORT_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 322
), bd AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM bd GROUP BY node),
p AS (
  SELECT du.d AS x, dv.d AS y
  FROM bd JOIN deg du ON du.node = bd.node JOIN deg dv ON dv.node = bd.nbr
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM p
)
SELECT n AS n_dir_edges, sx, sxx, sxy,
       CASE WHEN n * sxx - sx * sx != 0
            THEN round(CAST(n * sxy - sx * sx AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE), 6)
       END AS assortativity
FROM mom
"""


@register("kg_assortativity_docs", _ASSORT_SQL)
def kg_assortativity_docs(spark, sf_dir):
    """Degree assortativity of the sparsified co-occurrence graph
    (operators/graph_algos.degree_assortativity): exact integer moments,
    one final IEEE division — do hubs link to hubs?"""
    from .operators.graph_algos import degree_assortativity
    edges = _cooc_edges(spark, sf_dir, 322)
    return degree_assortativity(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"))


_LINK_SCORES_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 322
), bd AS (SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM bd GROUP BY z),
cn AS (
  SELECT e1.x AS a, e2.x AS b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM bd e1 JOIN bd e2 ON e1.z = e2.z AND e1.x < e2.x
  GROUP BY e1.x, e2.x
), miss AS (
  SELECT cn.* FROM cn ANTI JOIN e ON cn.a = e.a AND cn.b = e.b
)
SELECT ms.a, ms.b, ms.common_neighbors,
       (ms.common_neighbors * 1000000) // (da.d + db.d - ms.common_neighbors)
         AS jaccard_e6,
       da.d * db.d AS preferential_attachment
FROM miss ms JOIN deg da ON da.z = ms.a JOIN deg db ON db.z = ms.b
"""


@register("kg_link_scores_docs", _LINK_SCORES_SQL)
def kg_link_scores_docs(spark, sf_dir):
    """Integer-exact link-prediction triple (common neighbors, neighborhood
    Jaccard e6, preferential attachment) for non-adjacent pairs of the
    sparsified co-occurrence graph (operators/graph_algos
    .link_prediction_scores) — the all-integer companion to
    kg_link_prediction_docs' Adamic-Adar."""
    from .operators.graph_algos import link_prediction_scores
    edges = _cooc_edges(spark, sf_dir, 322)
    return link_prediction_scores(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"))


def _hits_sql(n_iters: int = 5, scale: int = 10**6) -> str:
    """HITS oracle: the operator's exact integer recurrence (long sums +
    renormalize-to-scale floor division — all operands positive, so Spark's
    `div` truncation == DuckDB's `//` floor) unrolled one (a,h) CTE pair per
    iteration over the doc→term bipartite mentions graph."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT CAST(d.doc_id AS VARCHAR) AS doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
),
h0 AS MATERIALIZED (SELECT DISTINCT doc_id AS h_node, {scale} AS h FROM m)"""
    steps = []
    for i in range(1, n_iters + 1):
        steps.append(f""",
a{i}raw AS MATERIALIZED (
  SELECT m.term AS a_node, sum(h.h) AS raw
  FROM m JOIN h{i - 1} h ON h.h_node = m.doc_id GROUP BY m.term),
a{i} AS MATERIALIZED (
  SELECT a_node, (raw * {scale}) // t.t AS a
  FROM a{i}raw, (SELECT sum(raw) AS t FROM a{i}raw) t),
h{i}raw AS MATERIALIZED (
  SELECT m.doc_id AS h_node, sum(a.a) AS raw
  FROM m JOIN a{i} a ON a.a_node = m.term GROUP BY m.doc_id),
h{i} AS MATERIALIZED (
  SELECT h_node, (raw * {scale}) // t.t AS h
  FROM h{i}raw, (SELECT sum(raw) AS t FROM h{i}raw) t)"""
        )
    return head + "".join(steps) + f"""
SELECT h_node AS node, 'hub' AS role, CAST(h AS BIGINT) AS score_e6
FROM h{n_iters}
UNION ALL
SELECT a_node AS node, 'authority' AS role, CAST(a AS BIGINT) AS score_e6
FROM a{n_iters}"""


@register("kg_hits_docs", _hits_sql())
def kg_hits_docs(spark, sf_dir):
    """HITS hubs-and-authorities (operators/graph_algos.hits_scaled) over the
    doc→term bipartite mentions graph: hub docs cite many authoritative
    terms, authoritative terms appear in good hub docs. Fixed-point integer
    normalization each half-iteration ⇒ bit-identical to the unrolled SQL
    recurrence regardless of partitioning."""
    from .operators.graph_algos import hits_scaled
    m = kg_docs.doc_mentions(spark, _t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "term")
    return hits_scaled(m, src="doc_id", dst="term", n_iters=5)


def _bpe_sql(n_merges: int = 12) -> str:
    """BPE oracle: the operator's exact recurrence unrolled one
    (pairs, best, vocab) CTE triple per merge. The bracket-wrapped symbol
    string makes the merge a literal replace whose non-overlapping
    left-to-right semantics are identical in DuckDB and Spark (see
    operators/bpe.py module docstring); counts are exact longs so the
    (c DESC, l, r) argmax is deterministic in both engines."""
    head = """
WITH w0 AS MATERIALIZED (
  SELECT concat('<', array_to_string(string_split(word, ''), '><'), '>')
           AS syms,
         count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
)"""
    steps = []
    for i in range(1, n_merges + 1):
        steps.append(f""",
p{i} AS MATERIALIZED (
  SELECT z[1] AS l, z[2] AS r, sum(cnt) AS c
  FROM (SELECT cnt, unnest(list_zip(toks, toks[2:])) AS z
        FROM (SELECT cnt,
                     string_split(substr(syms, 2, length(syms) - 2), '><')
                       AS toks
              FROM w{i - 1}))
  WHERE z[2] IS NOT NULL GROUP BY 1, 2),
b{i} AS MATERIALIZED (
  SELECT {i} AS merge_rank, l, r, c FROM p{i}
  ORDER BY c DESC, l, r LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT replace(w.syms, '<' || b.l || '><' || b.r || '>',
                 '<' || b.l || b.r || '>') AS syms, w.cnt
  FROM w{i - 1} w, b{i} b)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT merge_rank, l, r, c FROM b{i}" for i in range(1, n_merges + 1))
    return head + "".join(steps) + f"""
SELECT CAST(merge_rank AS BIGINT) AS merge_rank, l AS lhs, r AS rhs,
       CAST(c AS BIGINT) AS pair_count, l || r AS merged
FROM ({union})"""


@register("bpe_merges_docs", _bpe_sql())
def bpe_merges_docs(spark, sf_dir):
    """BPE tokenizer vocabulary induction (operators/bpe.bpe_train): 12
    greedy pair merges over the documents corpus word-frequency table —
    training state is the distinct-word table, every iteration one exact
    pair-count aggregate + a 1-row argmax + a literal bracket replace."""
    from .operators.bpe import bpe_train
    return bpe_train(spark, _t(spark, sf_dir, "documents"), n_merges=12)


_FREQ_SEQ_SQL = """
WITH s AS (
  SELECT user_id, event_type AS g1,
         lead(event_type, 1) OVER w AS g2,
         lead(event_type, 2) OVER w AS g3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT g1, g2, g3,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM s WHERE g3 IS NOT NULL
GROUP BY g1, g2, g3 HAVING count(DISTINCT user_id) >= 5
"""


@register("q_events_frequent_sequences", _FREQ_SEQ_SQL)
def q_events_frequent_sequences(spark, sf_dir):
    """Episode mining (operators/sequences.ngram_sequences): contiguous
    event-type trigrams per user timeline, kept when >= 5 distinct users
    exhibit them — one key-partitioned lead() window + a combinable
    support aggregate."""
    from .operators.sequences import ngram_sequences
    return ngram_sequences(_t(spark, sf_dir, "events"), n=3, min_support=5)


_MARKOV_SQL = """
WITH s AS (
  SELECT event_type AS src,
         lead(event_type, 1) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
), c AS (
  SELECT src, dst, count(*) AS n_transitions
  FROM s WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, CAST(n_transitions AS BIGINT) AS n_transitions,
       CAST((n_transitions * 1000000) //
            sum(n_transitions) OVER (PARTITION BY src) AS BIGINT) AS prob_e6
FROM c
"""


@register("q_events_markov_transitions", _MARKOV_SQL)
def q_events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix of event types per user timeline
    (operators/sequences.markov_transitions) — fixed-point P(dst|src) in
    e6 units, exact under any aggregation order."""
    from .operators.sequences import markov_transitions
    return markov_transitions(_t(spark, sf_dir, "events"))


def _msf_sql(max_hops: int = 14) -> str:
    """Maximum-spanning-forest oracle via the cycle property: under the
    unique composite strength order (w DESC, a, b) an edge belongs to the
    unique maximum spanning forest iff its endpoints are NOT connected by
    strictly-stronger edges alone. Reachability over each candidate's
    stronger-subgraph is unrolled one (frontier, seen) CTE pair per hop —
    the lexicon graph has <= 15 nodes, so 14 hops are exhaustive."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, count(*) AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= 2
), se AS MATERIALIZED (
  SELECT c.a AS ra, c.b AS rb, s.a AS src, s.b AS dst
  FROM e c JOIN e s
    ON (s.w > c.w OR (s.w = c.w AND (s.a < c.a
        OR (s.a = c.a AND s.b < c.b))))
), u AS MATERIALIZED (
  SELECT ra, rb, src, dst FROM se
  UNION ALL SELECT ra, rb, dst, src FROM se
), s0 AS MATERIALIZED (SELECT a AS ra, b AS rb, a AS node FROM e),
f0 AS (SELECT * FROM s0)"""
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(f""",
f{i} AS MATERIALIZED (
  SELECT DISTINCT p.ra, p.rb, u.dst AS node
  FROM f{i - 1} p JOIN u ON u.ra = p.ra AND u.rb = p.rb AND u.src = p.node
  WHERE NOT EXISTS (SELECT 1 FROM s{i - 1} s
                    WHERE s.ra = p.ra AND s.rb = p.rb AND s.node = u.dst)),
s{i} AS MATERIALIZED (
  SELECT * FROM s{i - 1} UNION ALL SELECT * FROM f{i})"""
        )
    return head + "".join(steps) + f"""
SELECT e.a AS term_a, e.b AS term_b, CAST(e.w AS BIGINT) AS common
FROM e
WHERE NOT EXISTS (SELECT 1 FROM s{max_hops} r
                  WHERE r.ra = e.a AND r.rb = e.b AND r.node = e.b)"""


@register("kg_max_spanning_forest_docs", _msf_sql())
def kg_max_spanning_forest_docs(spark, sf_dir):
    """KG association backbone: the unique maximum spanning forest of the
    co-occurrence graph under (common DESC, a, b) ordering, computed by
    distributed Borůvka (operators/graph_algos.max_spanning_forest) and
    checked against an independent cycle-property characterization."""
    from .operators.graph_algos import max_spanning_forest
    edges = _cooc_edges(spark, sf_dir)
    f = max_spanning_forest(edges, src="term_a", dst="term_b",
                            weight="common")
    return f.select(F.col("a").alias("term_a"), F.col("b").alias("term_b"),
                    F.col("w").alias("common"))


def _stress_sql(max_hops: int = 4, min_cooc: int = 322) -> str:
    """Stress-centrality oracle: the harmonic-centrality BFS unroll
    extended with exact path counts σ (sum of predecessor σ at first
    reach), then one triple self-join applying
    σ_st(v) = σ_sv·σ_vt when d(s,v)+d(v,t) = d(s,t)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
s0 AS MATERIALIZED (
  SELECT node AS root, node, 0 AS d, 1 AS sig FROM nodes),
f0 AS (SELECT * FROM s0)"""
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(f""",
f{i} AS MATERIALIZED (
  SELECT p.root, e.dst AS node, {i} AS d, sum(p.sig) AS sig
  FROM f{i - 1} p JOIN e ON e.src = p.node
  WHERE NOT EXISTS (SELECT 1 FROM s{i - 1} s
                    WHERE s.root = p.root AND s.node = e.dst)
  GROUP BY p.root, e.dst),
s{i} AS MATERIALIZED (
  SELECT * FROM s{i - 1} UNION ALL SELECT * FROM f{i})"""
        )
    return head + "".join(steps) + f"""
SELECT sv.node AS node,
       CAST(sum(sv.sig * vt.sig) // 2 AS BIGINT) AS stress
FROM s{max_hops} sv
JOIN s{max_hops} vt ON vt.root = sv.node AND sv.d > 0 AND vt.d > 0
JOIN s{max_hops} st ON st.root = sv.root AND st.node = vt.node
                   AND st.d = sv.d + vt.d
GROUP BY sv.node"""


@register("kg_stress_centrality_docs", _stress_sql())
def kg_stress_centrality_docs(spark, sf_dir):
    """Stress centrality (shortest-path counts through each node,
    operators/graph_algos.stress_centrality) on the sparsified
    co-occurrence graph — the integer-exact sibling of betweenness."""
    from .operators.graph_algos import stress_centrality
    edges = _cooc_edges(spark, sf_dir, 322)
    return stress_centrality(edges.withColumnRenamed("term_a", "subj")
                             .withColumnRenamed("term_b", "obj"))


def _mis_sql(max_rounds: int = 8, min_cooc: int = 322,
             salt: str = "mis") -> str:
    """MIS oracle: the Luby rounds unrolled — winners are undecided nodes
    with no higher-key undecided neighbor; the key is the identical
    zero-padded md5-u64 string both engines compute."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), u0 AS MATERIALIZED (
  SELECT node,
         lpad(CAST(CAST(concat('0x', substr(md5('{salt}:' || node), 1, 16))
                        AS UBIGINT) AS VARCHAR), 20, '0') || '|' || node AS k
  FROM (SELECT DISTINCT src AS node FROM e))"""
    steps = []
    for i in range(1, max_rounds + 1):
        steps.append(f""",
w{i} AS MATERIALIZED (
  SELECT u.node FROM u{i - 1} u
  WHERE NOT EXISTS (SELECT 1 FROM e JOIN u{i - 1} v ON e.dst = v.node
                    WHERE e.src = u.node AND v.k > u.k)),
u{i} AS MATERIALIZED (
  SELECT u.* FROM u{i - 1} u
  WHERE NOT EXISTS (SELECT 1 FROM w{i} w WHERE w.node = u.node)
    AND NOT EXISTS (SELECT 1 FROM e JOIN w{i} w ON e.dst = w.node
                    WHERE e.src = u.node))"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT node, {i} AS mis_round FROM w{i}"
        for i in range(1, max_rounds + 1))
    return head + "".join(steps) + f"""
SELECT node, CAST(mis_round AS BIGINT) AS mis_round FROM ({union})"""


@register("kg_mis_docs", _mis_sql())
def kg_mis_docs(spark, sf_dir):
    """Deterministic Luby maximal independent set on the sparsified
    co-occurrence graph (operators/graph_algos.maximal_independent_set) —
    hash-priority rounds, bit-reproducible across engines."""
    from .operators.graph_algos import maximal_independent_set
    edges = _cooc_edges(spark, sf_dir, 322)
    return maximal_independent_set(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"))


_RECONCILE_SQL = """
WITH l AS (SELECT event_id, event_type, value FROM events),
r AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 11 = 0 THEN value + 1 ELSE value END AS value
  FROM events WHERE event_id % 13 <> 0
  UNION ALL
  SELECT event_id + 10000000, event_type, value
  FROM events WHERE event_id % 17 = 0
), j AS (
  SELECT CASE WHEN l.event_id IS NULL THEN 'only_right'
              WHEN r.event_id IS NULL THEN 'only_left'
              WHEN l.event_type IS NOT DISTINCT FROM r.event_type
               AND l.value IS NOT DISTINCT FROM r.value THEN 'equal'
              ELSE 'differs' END AS status
  FROM l FULL OUTER JOIN r ON l.event_id = r.event_id
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows FROM j GROUP BY status
"""


@register("q_events_reconcile", _RECONCILE_SQL)
def q_events_reconcile(spark, sf_dir):
    """Table reconciliation (operators/audit.reconcile_tables): diff the
    events table against a deterministically mutated replica (dropped,
    perturbed and extra keys) — the migration/backfill validation pass.
    One full outer equi-join; null-safe JVM column comparison."""
    from .operators.audit import reconcile_tables
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    mutated = (ev.filter(F.col("event_id") % 13 != 0)
               .withColumn("value",
                           F.when(F.col("event_id") % 11 == 0,
                                  F.col("value") + 1)
                           .otherwise(F.col("value"))))
    extra = (ev.filter(F.col("event_id") % 17 == 0)
             .select((F.col("event_id") + 10_000_000).alias("event_id"),
                     "event_type", "value"))
    return reconcile_tables(ev, mutated.unionByName(extra), ["event_id"])


_DQ_AUDIT_SQL = """
WITH a AS (
  SELECT count(*) AS n,
         sum(CASE WHEN coalesce(value >= 0, FALSE) THEN 0 ELSE 1 END) AS v1,
         sum(CASE WHEN coalesce(value <= 100, FALSE) THEN 0 ELSE 1 END) AS v2,
         sum(CASE WHEN coalesce(event_type IN
               ('click','view','error','signup','purchase'), FALSE)
             THEN 0 ELSE 1 END) AS v3,
         sum(CASE WHEN coalesce(props IS NOT NULL, FALSE)
             THEN 0 ELSE 1 END) AS v4
  FROM events
)
SELECT t.rule, CAST(a.n AS BIGINT) AS n_rows,
       CAST(t.v AS BIGINT) AS n_violations,
       CAST((t.v * 1000000) // greatest(a.n, 1) AS BIGINT)
         AS violation_rate_e6
FROM a, LATERAL (VALUES ('value_nonneg', a.v1), ('value_le_100', a.v2),
                        ('known_type', a.v3), ('props_not_null', a.v4))
         AS t(rule, v)
"""


@register("q_events_dq_audit", _DQ_AUDIT_SQL)
def q_events_dq_audit(spark, sf_dir):
    """Rule-based data-quality audit (operators/audit.dq_audit): four
    pass-conditions over events evaluated in ONE scan as conditional sums;
    violation rates in fixed-point e6."""
    from .operators.audit import dq_audit
    ev = _t(spark, sf_dir, "events")
    rules = [
        ("value_nonneg", F.col("value") >= 0),
        ("value_le_100", F.col("value") <= 100),
        ("known_type", F.col("event_type").isin(
            "click", "view", "error", "signup", "purchase")),
        ("props_not_null", F.col("props").isNotNull()),
    ]
    return dq_audit(ev, rules)


_Q5_SQL = """
SELECT n.n_name AS nation,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                  AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


@register("q_local_supplier_volume", _Q5_SQL)
def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: six-table join with a region filter and the
    local-supplier equality (customer and supplier share a nation) — the
    canonical Catalyst join-reordering exercise. Only the genuinely
    bounded dims (nation 25, region 5 rows) get broadcast hints; AQE
    decides the rest. Money sums are decimal-exact then rounded once."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .filter((F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01"))
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == l.l_suppkey)
              & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


def _zorder_sql_query() -> str:
    from .functions.layout import zorder_sql
    z = zorder_sql("user_id", "CAST(floor(value) AS BIGINT)", bits=16)
    return f"""
SELECT event_id, CAST({z} AS BIGINT) AS zkey,
       CAST(({z} >> 24) AS BIGINT) AS zbucket
FROM events
"""


@register("q_events_zorder_key", _zorder_sql_query())
def q_events_zorder_key(spark, sf_dir):
    """Morton/Z-order locality key over (user_id, floor(value))
    (functions/layout.zorder_key) — the write-side layout key that makes
    parquet min/max stats prune two-dimensional predicates. Pure codegen
    bit arithmetic, bit-identical across engines."""
    from .functions.layout import zorder_key
    ev = _t(spark, sf_dir, "events")
    z = zorder_key(F.col("user_id"),
                   F.floor(F.col("value")).cast("long"), bits=16)
    return ev.select("event_id", z.alias("zkey"),
                     F.shiftright(z, 24).alias("zbucket"))


def _pca_fixture_sql() -> str:
    """PCA oracle — the power iteration is deterministic end-to-end
    (fixed-point cross-row sums, sequential per-row folds, driver math the
    fixture mirrors line-for-line), so the expected loadings/eigenvalue are
    re-evaluated single-process in plain Python
    (scripts/gen_pca_fixture.py) and served as scale-keyed VALUES."""
    from .pca_fixture import PCA_TOP
    vals = ", ".join(
        f"({_SF_EVENT_ROWS[sf]}, {j}, {le}, {ee})"
        for sf, rows in PCA_TOP.items() if sf in _SF_EVENT_ROWS
        for j, le, ee in rows)
    return (f"SELECT CAST(dim_idx AS BIGINT) AS dim_idx,"
            f" CAST(loading_e6 AS BIGINT) AS loading_e6,"
            f" CAST(eigenvalue_e6 AS BIGINT) AS eigenvalue_e6"
            f" FROM (VALUES {vals}) t(ev, dim_idx, loading_e6, eigenvalue_e6)"
            f" WHERE ev = (SELECT count(*) FROM events)")


@register("ann_pca_top_component", _pca_fixture_sql())
def ann_pca_top_component(spark, sf_dir):
    """Top principal component of the embeddings (operators/pca
    .top_component): distributed power iteration with exact fixed-point
    cross-row sums — dimensionality-reduction/drift primitive, checked
    against an independent single-process re-evaluation."""
    from .operators.pca import top_component
    return top_component(_t(spark, sf_dir, "embeddings"))


_INTERVAL_OVERLAP_SQL = """
WITH sess AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         epoch_us(min(ts)) AS s_start,
         epoch_us(max(ts)) AS s_end
  FROM events GROUP BY 1, 2
), err AS (
  SELECT event_id AS err_id,
         epoch_us(ts) - 300000000 AS e_start,
         epoch_us(ts) + 300000000 AS e_end
  FROM events WHERE event_type = 'error'
)
SELECT s.user_id, s.day, CAST(count(*) AS BIGINT) AS n_error_overlaps
FROM sess s JOIN err e
  ON s.s_start <= e.e_end AND e.e_start <= s.s_end
GROUP BY s.user_id, s.day
"""


@register("q_events_interval_overlap", _INTERVAL_OVERLAP_SQL)
def q_events_interval_overlap(spark, sf_dir):
    """Interval-overlap join (operators/asof.interval_overlap_join): daily
    user sessions × ±5-minute error windows — grid-cell binned equi-join
    that emits each pair exactly once (overlap-start cell), vs the naive
    theta join the oracle runs. Microsecond epochs keep both engines
    integer-exact. Per (user, day): overlapping error count."""
    from .operators.asof import interval_overlap_join
    ev = _t(spark, sf_dir, "events")
    # microsecond epochs: exact integers on both engines (unix_seconds
    # floors while DuckDB's epoch() cast rounds — sub-second mismatch)
    ts = F.unix_micros(F.col("ts").cast("timestamp"))
    sess = (ev.groupBy("user_id",
                       F.date_trunc("day", "ts").cast("date").alias("day"))
            .agg(F.min(ts).alias("s_start"), F.max(ts).alias("s_end")))
    err = (ev.filter(F.col("event_type") == "error")
           .select(F.col("event_id").alias("err_id"),
                   (ts - 300_000_000).alias("e_start"),
                   (ts + 300_000_000).alias("e_end")))
    pairs = interval_overlap_join(sess, err, "s_start", "s_end",
                                  "e_start", "e_end",
                                  bin_width=86_400_000_000)
    return (pairs.groupBy("user_id", "day")
            .agg(F.count(F.lit(1)).alias("n_error_overlaps")))


def _sssp_sql(rounds: int = 6, min_cooc: int = 322,
              source: str = "vector") -> str:
    """Weighted-SSSP oracle: the Bellman-Ford relaxation unrolled — each
    round a union of kept distances and edge-relaxed candidates, min per
    node. Edge cost = 1000000 // co-occurrence ("association distance").
    `rounds` exceeds the sparsified graph's diameter; extra rounds are
    no-ops, matching the operator's converge-then-stop."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, 1000000 // count(*) AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst, w FROM e0
  UNION ALL SELECT b, a, w FROM e0
), d0 AS (SELECT '{source}' AS node, 0 AS dist)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, p.dist + e.w AS dist
    FROM d{i - 1} p JOIN e ON e.src = p.node
  ) GROUP BY node)"""
        )
    return head + "".join(steps) + f"""
SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}"""


@register("kg_sssp_docs", _sssp_sql())
def kg_sssp_docs(spark, sf_dir):
    """Weighted shortest paths from 'vector' over the sparsified
    co-occurrence graph with cost = 1e6 // common (strong associations are
    short hops) — distributed Bellman-Ford
    (operators/graph_algos.weighted_sssp), exact integer distances."""
    from .operators.graph_algos import weighted_sssp
    edges = _cooc_edges(spark, sf_dir, 322)
    e = edges.select(F.col("term_a").alias("subj"),
                     F.col("term_b").alias("obj"),
                     F.expr("(1000000L div common)").alias("w"))
    return weighted_sssp(e, source="vector", weight="w")


_PARETO_SQL = """
WITH up AS (
  SELECT user_id, count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS total_value
  FROM events GROUP BY user_id
), pts AS (
  SELECT DISTINCT n_events AS x, total_value AS y FROM up
)
SELECT CAST(p.x AS BIGINT) AS x, p.y AS y
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
"""


@register("q_events_pareto_users", _PARETO_SQL)
def q_events_pareto_users(spark, sf_dir):
    """Pareto frontier of users over (event count, decimal-exact total
    value) — operators/pareto.pareto_frontier_2d: per-x max-y collapse then
    a two-phase bucketed running max, vs the oracle's quadratic NOT EXISTS
    dominance check."""
    from .operators.pareto import pareto_frontier_2d
    ev = _t(spark, sf_dir, "events")
    up = (ev.groupBy("user_id")
          .agg(F.count(F.lit(1)).alias("n_events"),
               F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                       .cast("double"), 2).alias("total_value")))
    return (pareto_frontier_2d(up, "n_events", "total_value",
                               bucket_width=16)
            .select(F.col("x").cast("long").alias("x"), "y"))


_CDC_SQL = """
WITH p AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 17 <> 3
), c AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 19 = 0 THEN value * 2 ELSE value END AS value
  FROM events WHERE event_id % 23 <> 5
)
SELECT coalesce(p.event_id, c.event_id) AS event_id,
       CASE WHEN p.event_id IS NULL THEN 'insert'
            WHEN c.event_id IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       p.event_type AS before_event_type, p.value AS before_value,
       c.event_type AS after_event_type, c.value AS after_value
FROM p FULL OUTER JOIN c ON p.event_id = c.event_id
WHERE p.event_id IS NULL OR c.event_id IS NULL
   OR NOT (p.event_type IS NOT DISTINCT FROM c.event_type
           AND p.value IS NOT DISTINCT FROM c.value)
"""


@register("q_events_snapshot_cdc", _CDC_SQL)
def q_events_snapshot_cdc(spark, sf_dir):
    """CDC extraction between two snapshots (operators/audit.snapshot_cdc):
    the minimal insert/update/delete stream with before/after values that
    replays snapshot A into snapshot B — one full outer equi-join."""
    from .operators.audit import snapshot_cdc
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "value")
    prev = ev.filter(F.col("event_id") % 17 != 3)
    curr = (ev.filter(F.col("event_id") % 23 != 5)
            .withColumn("value",
                        F.when(F.col("event_id") % 19 == 0,
                               F.col("value") * 2)
                        .otherwise(F.col("value"))))
    return snapshot_cdc(prev, curr, ["event_id"])


_GOLDEN_SQL = """
WITH longest AS (
  SELECT source, text AS text FROM (
    SELECT source, text,
           row_number() OVER (PARTITION BY source
                              ORDER BY length(text) DESC, text DESC) AS rn
    FROM documents) WHERE rn = 1
), extrema AS (
  SELECT source, max(n_chars) AS n_chars, min(doc_id) AS doc_id
  FROM documents GROUP BY source
), major AS (
  SELECT source, lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY count(*) DESC, lang ASC) AS rn
    FROM documents GROUP BY source, lang) WHERE rn = 1
)
SELECT e.source, l.text, e.n_chars, e.doc_id, m.lang
FROM extrema e JOIN longest l ON l.source = e.source
JOIN major m ON m.source = e.source
"""


@register("kg_golden_records_docs", _GOLDEN_SQL)
def kg_golden_records_docs(spark, sf_dir):
    """Survivorship merge per duplicate cluster (operators/audit
    .golden_records, clusters stood in by `source`): longest text, max
    n_chars, min doc_id, majority lang — deterministic field-level rules,
    no windows on the Spark side."""
    from .operators.audit import golden_records
    docs = _t(spark, sf_dir, "documents")
    return golden_records(docs, "source", {
        "text": "longest", "n_chars": "max",
        "doc_id": "min", "lang": "majority"})


def _densest_sql(rounds: int = 10, min_cooc: int = 322) -> str:
    """Densest-subgraph oracle: the batched Charikar peel unrolled — per
    round a stats row (n, e), an exact integer peel threshold
    deg·n <= 2·e, node/edge shrink CTEs; the best prefix is picked by
    exact cross-multiplied density comparison (ties → earliest round)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), ge0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), g0 AS MATERIALIZED (
  SELECT a AS node FROM ge0 UNION SELECT b FROM ge0)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
st{i} AS MATERIALIZED (
  SELECT {i} AS rnd, (SELECT count(*) FROM g{i - 1}) AS n,
         (SELECT count(*) FROM ge{i - 1}) AS e),
d{i} AS MATERIALIZED (
  SELECT g.node, count(x.node) AS d
  FROM g{i - 1} g LEFT JOIN (SELECT a AS node FROM ge{i - 1}
                             UNION ALL SELECT b FROM ge{i - 1}) x
    ON x.node = g.node GROUP BY g.node),
p{i} AS MATERIALIZED (
  SELECT d.node FROM d{i} d, st{i} s WHERE d.d * s.n <= 2 * s.e),
g{i} AS MATERIALIZED (
  SELECT node FROM g{i - 1}
  WHERE NOT EXISTS (SELECT 1 FROM p{i} p WHERE p.node = g{i - 1}.node)),
ge{i} AS MATERIALIZED (
  SELECT * FROM ge{i - 1} e
  WHERE NOT EXISTS (SELECT 1 FROM p{i} p WHERE p.node = e.a)
    AND NOT EXISTS (SELECT 1 FROM p{i} p WHERE p.node = e.b))"""
        )
    stats_union = " UNION ALL ".join(
        f"SELECT * FROM st{i} WHERE n > 0" for i in range(1, rounds + 1))
    mem_union = " UNION ALL ".join(
        f"SELECT {i} AS rnd, node FROM g{i - 1}"
        for i in range(1, rounds + 1))
    return head + "".join(steps) + f""",
stats AS MATERIALIZED ({stats_union}),
best AS MATERIALIZED (
  SELECT * FROM stats s
  WHERE NOT EXISTS (SELECT 1 FROM stats t
                    WHERE t.e * s.n > s.e * t.n
                       OR (t.e * s.n = s.e * t.n AND t.rnd < s.rnd))),
mem AS ({mem_union})
SELECT m.node, CAST(b.n AS BIGINT) AS n_nodes, CAST(b.e AS BIGINT) AS n_edges
FROM mem m JOIN best b ON m.rnd = b.rnd"""


@register("kg_densest_subgraph_docs", _densest_sql())
def kg_densest_subgraph_docs(spark, sf_dir):
    """Densest-subgraph 2-approximation on the sparsified co-occurrence
    graph (operators/graph_algos.densest_subgraph) — the strongest
    association core, via exact-integer batched Charikar peeling."""
    from .operators.graph_algos import densest_subgraph
    edges = _cooc_edges(spark, sf_dir, 322)
    return densest_subgraph(edges.withColumnRenamed("term_a", "subj")
                            .withColumnRenamed("term_b", "obj"))


_VOCAB_GROWTH_SQL = """
WITH first_seen AS (
  SELECT word, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word
), per_bucket AS (
  SELECT first_doc // 100 AS bucket, count(*) AS new_words
  FROM first_seen GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(new_words AS BIGINT) AS new_words,
       CAST(sum(new_words) OVER (ORDER BY bucket) AS BIGINT) AS vocab_size
FROM per_bucket
"""


@register("text_vocab_growth", _VOCAB_GROWTH_SQL)
def text_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (Heaps-law diagnostics): per 100-doc bucket,
    how many never-seen-before words appear and the running vocabulary
    size. First-occurrence trick: one min-aggregate per word instead of any
    cumulative distinct scan — the curve's cumsum runs over bucket counts
    (tiny), not rows."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    words = (docs.select("doc_id",
                         F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != ""))
    first = words.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    per_bucket = (first.groupBy(
        (F.col("first_doc") / 100).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_words")))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket", "new_words",
        F.sum("new_words").over(w).alias("vocab_size"))


_LABEL_CENTROIDS_SQL = """
WITH x AS (
  SELECT label, g.i - 1 AS dim,
         CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS sv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) g(i)
)
SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
       CAST(sum(sv) // count(*) AS BIGINT) AS mean_e6,
       CAST(count(*) AS BIGINT) AS n
FROM x GROUP BY label, dim
"""


@register("ann_label_centroids", _LABEL_CENTROIDS_SQL)
def ann_label_centroids(spark, sf_dir):
    """Class prototype vectors: exact fixed-point mean embedding per label
    (the centroid-update discipline of IVF reused as a standalone
    operator) — posexplode + groupBy, order-free integer arithmetic."""
    embs = _t(spark, sf_dir, "embeddings")
    x = embs.select(
        "label",
        F.posexplode(F.transform(
            "embedding",
            lambda v: F.floor(v * F.lit(1_000_000.0) + F.lit(0.5))))
        .alias("dim", "sv"))
    return (x.groupBy(F.col("label").cast("long").alias("label"),
                      F.col("dim").cast("long").alias("dim"))
            .agg(F.expr("sum(sv) div count(1)").alias("mean_e6"),
                 F.count(F.lit(1)).alias("n")))


_POSTINGS_SQL = """
WITH tf AS (
  SELECT word AS term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word, doc_id
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       array_to_string(
         (list(doc_id || ':' || tf ORDER BY tf DESC, doc_id))[1:5], ',')
         AS top_postings
FROM tf GROUP BY term
"""


@register("search_index_postings", _POSTINGS_SQL)
def search_index_postings(spark, sf_dir):
    """Search-index build: per term, document frequency and the
    impact-ordered posting list head (top-5 docs by tf, serialized
    'doc:tf' so both engines hash the same string). The full-index analog
    of tfidf.py's internal inverted index, materialized."""
    docs = _t(spark, sf_dir, "documents")
    tf = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("term"))
          .filter(F.col("term") != "")
          .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf")))
    item = F.struct((-F.col("tf")).alias("ntf"), F.col("doc_id").alias("d"),
                    F.col("tf").alias("t"))
    return (tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.concat_ws(",", F.transform(
                     F.slice(F.array_sort(F.collect_list(item)), 1, 5),
                     lambda s: F.concat(s.d.cast("string"), F.lit(":"),
                                        s.t.cast("string"))))
                 .alias("top_postings")))


def _png_fixture_sql(n: int = 36, seed: int = 42) -> str:
    """Oracle for the REAL PNG decode path: pixels are pure formulas of
    (x, y, id) (sources/multimodal.synthetic_png_media), so the expected
    channel means are recomputed here in plain Python with no PNG bytes —
    if zlib round-trip, any of the five filters, or the RGBA slice
    corrupted one pixel, the hash would differ."""
    rows = []
    for i in range(n):
        w = 12 + (i * 3 + seed) % 9
        h = 12 + (i * 5 + seed) % 7
        rs = gs = bs = 0
        for y in range(h):
            for x in range(w):
                rs += (x * 2 + y * 3 + i) % 256
                gs += (x * 5 + y + i * 7) % 256
                bs += (x + y * 7 + i * 13) % 256
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_png_features", _png_fixture_sql())
def multimodal_png_features(spark, sf_dir):
    """REAL compressed-image decode end to end: genuine zlib-compressed
    PNG bytes (RGB + RGBA, scanline filters cycling None/Sub/Up/Average/
    Paeth) generated, parsed and unfiltered inside mapInPandas
    (sources/multimodal.decode_png) — the former 'compressed codecs are
    stubbed' inventory line no longer applies to PNG."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_png_media,
    )
    return extract_image_features_real(synthetic_png_media(spark, 36)) \
        .select("media_id", "width", "height",
                "r_mean", "g_mean", "b_mean")


def _gif_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the REAL GIF decode path: palette indices and the palette
    itself are pure formulas (sources/multimodal.synthetic_gif_media /
    _gif_palette), so expected channel means are recomputed in plain Python
    without touching GIF bytes — a single wrong LZW code, palette entry or
    scan order flips the hash."""
    rows = []
    for i in range(n):
        w = 14 + (i * 3 + seed) % 11
        h = 14 + (i * 5 + seed) % 9
        rs = gs = bs = 0
        for y in range(h):
            for x in range(w):
                p = (x * 11 + y * 17 + i * 29) % 256
                rs += p
                gs += (p * 7 + 31) % 256
                bs += (p * 13 + 77) % 256
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_gif_features", _gif_fixture_sql())
def multimodal_gif_features(spark, sf_dir):
    """REAL LZW-compressed GIF decode end to end inside mapInPandas
    (sources/multimodal.decode_gif): variable-width LZW, palette lookup,
    extension skipping — stdlib only."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_gif_media,
    )
    return extract_image_features_real(synthetic_gif_media(spark, 30)) \
        .select("media_id", "width", "height",
                "r_mean", "g_mean", "b_mean")


def _mp4_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the MP4 container parse: duration/timescale/tracks/codecs
    are pure formulas (sources/multimodal.synthetic_mp4_media), recomputed
    here without touching the box bytes."""
    rows = []
    for i in range(n):
        dur = 30 + (i * 7 + seed) % 300
        ts = (600, 1000, 90000)[i % 3]
        codecs = [("avc1", "hev1", "av01")[(i + j) % 3]
                  for j in range(1 + i % 2)]
        rows.append(f"({i}, {float(dur)!r}, {ts}, {len(codecs)},"
                    f" '{','.join(codecs)}')")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(duration_s AS DOUBLE) AS duration_s,"
            f" CAST(timescale AS INTEGER) AS timescale,"
            f" CAST(n_tracks AS INTEGER) AS n_tracks, codecs"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, duration_s, timescale, n_tracks, codecs)")


@register("multimodal_mp4_metadata", _mp4_fixture_sql())
def multimodal_mp4_metadata(spark, sf_dir):
    """REAL video-container metadata extraction (sources/multimodal
    .parse_mp4): genuine ISO-BMFF box trees walked inside mapInPandas —
    duration, timescale, track count, codec fourccs; frame decode remains
    honestly behind the ffmpeg stub."""
    from .sources.multimodal import (
        extract_video_metadata,
        synthetic_mp4_media,
    )
    return extract_video_metadata(synthetic_mp4_media(spark, 24))


def _jpeg_fixture_sql() -> str:
    """JPEG oracle — DISCLOSURE: unlike PNG/GIF (lossless → means are pure
    pixel formulas), JPEG is lossy, so the expected means come from a
    single-process run of the same codec (scripts/gen_jpeg_fixture.py).
    This pins the distributed mapInPandas plumbing and the decode's
    determinism; the codec itself is independently pinned by
    tests/test_jpeg_codec.py (DCT round trip, exact constant case, PSNR
    floors, marker guards)."""
    from .jpeg_fixture import JPEG_FEATURES
    vals = ", ".join(
        f"({i}, {w}, {h}, {r!r}, {g!r}, {b!r})"
        for i, w, h, r, g, b in JPEG_FEATURES)
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {vals})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_jpeg_features", _jpeg_fixture_sql())
def multimodal_jpeg_features(spark, sf_dir):
    """REAL baseline JPEG decode end to end inside mapInPandas
    (sources/jpeg.decode_jpeg — pure Python+numpy Huffman/DCT, 4:4:4,
    4:2:0 and grayscale): genuine JFIF bytes with Annex-K tables and byte
    stuffing. Oracle pins distributed == single-process (see
    _jpeg_fixture_sql disclosure)."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_jpeg_media,
    )
    return extract_image_features_real(synthetic_jpeg_media(spark, 24)) \
        .select("media_id", "width", "height",
                "r_mean", "g_mean", "b_mean")


_DEDUP_EVAL_SQL = r"""
WITH w AS (
  SELECT id, CAST(concat('0x', substr(md5(word), 1, 16)) AS UBIGINT) AS h
  FROM (SELECT doc_id AS id,
               unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents)
  WHERE word != ''
), bits AS (
  SELECT id, k, sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM w, range(64) t(k) GROUP BY id, k
), sig AS (
  SELECT id, sum(CASE WHEN acc >= 0
                      THEN CAST(CAST(1 AS UBIGINT) << CAST(k AS INTEGER)
                                AS HUGEINT) ELSE 0 END) AS raw
  FROM bits GROUP BY id
), s0 AS (
  SELECT id, CAST(CASE WHEN raw >= 9223372036854775808
                       THEN raw - 18446744073709551616
                       ELSE raw END AS BIGINT) AS sim FROM sig
), s AS (SELECT min(id) AS id, sim FROM s0 GROUP BY sim),
pred AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM s a JOIN s b ON a.id < b.id
  WHERE bit_count(xor(a.sim, b.sim)) <= 3
), sh AS (
  SELECT doc_id AS id, lang AS blk,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS sset
  FROM (SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\s+') AS words
        FROM documents)
), truth AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
  WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sset, b.sset))) >= 0.3
), c AS (
  SELECT (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM pred JOIN truth USING (id_a, id_b)) AS n_hit
)
SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST((n_hit * 1000000) // greatest(n_pred, 1) AS BIGINT)
         AS precision_e6,
       CAST((n_hit * 1000000) // greatest(n_true, 1) AS BIGINT)
         AS recall_e6,
       CAST((2 * n_hit * 1000000) // greatest(n_pred + n_true, 1) AS BIGINT)
         AS f1_e6
FROM c
"""


@register("dedup_eval_docs", _DEDUP_EVAL_SQL)
def dedup_eval_docs(spark, sf_dir):
    """Evaluation harness (operators/audit.pair_eval): SimHash hamming<=3
    predictions scored against the exact 3-gram-Jaccard >= 0.3 ground
    truth — precision/recall/F1 as exact fixed-point counts (at the gate
    corpus: perfect precision, recall 0.6 — the hamming radius genuinely
    misses looser near-dups, which is the measurement's point)."""
    from .operators.audit import pair_eval
    from .operators.dedup import ngram_jaccard_pairs, simhash_near_dup_pairs
    docs = _t(spark, sf_dir, "documents")
    pred = simhash_near_dup_pairs(docs, max_hamming=3)
    truth = ngram_jaccard_pairs(docs, threshold=0.3, k=3)
    return pair_eval(pred, truth)


_RICH_CLUB_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= 322
), deg AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node
), ks AS (SELECT DISTINCT d AS k FROM deg),
club AS (
  SELECT ks.k,
         (SELECT count(*) FROM deg WHERE deg.d > ks.k) AS n_k,
         (SELECT count(*) FROM e
          JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
          WHERE da.d > ks.k AND db.d > ks.k) AS e_k
  FROM ks
)
SELECT CAST(k AS BIGINT) AS k, CAST(n_k AS BIGINT) AS n_k,
       CAST(e_k AS BIGINT) AS e_k,
       CAST(CASE WHEN n_k >= 2
                 THEN (2 * e_k * 1000000) // (n_k * (n_k - 1))
                 ELSE 0 END AS BIGINT) AS phi_e6
FROM club WHERE n_k >= 2
"""


@register("kg_rich_club_docs", _RICH_CLUB_SQL)
def kg_rich_club_docs(spark, sf_dir):
    """Rich-club coefficient φ(k) of the sparsified co-occurrence graph:
    for each observed degree k, the density among nodes of degree > k —
    fixed-point e6 integers (do hubs preferentially interconnect?). One
    degree aggregate + a broadcast of the tiny degree table against the
    edge list per threshold."""
    edges = _cooc_edges(spark, sf_dir, 322)
    e = edges.select(F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    bd = e.select(F.col("a").alias("node")).unionByName(
        e.select(F.col("b").alias("node")))
    deg = bd.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    ks = deg.select(F.col("d").alias("k")).distinct()
    ed = (e.join(deg.select(F.col("node").alias("a"),
                            F.col("d").alias("da")), "a")
          .join(deg.select(F.col("node").alias("b"),
                           F.col("d").alias("db")), "b"))
    nk = (ks.join(deg, deg["d"] > ks["k"])
          .groupBy("k").agg(F.count(F.lit(1)).alias("n_k")))
    ek = (ks.join(ed, (ed["da"] > ks["k"]) & (ed["db"] > ks["k"]), "left")
          .groupBy("k").agg(F.count(F.col("a")).alias("e_k")))
    return (nk.join(ek, "k")
            .filter(F.col("n_k") >= 2)
            .select(F.col("k").cast("long").alias("k"),
                    F.col("n_k").cast("long").alias("n_k"),
                    F.col("e_k").cast("long").alias("e_k"),
                    F.expr("(2 * e_k * 1000000L) div (n_k * (n_k - 1))")
                    .alias("phi_e6")))


def _graph_summary_sql() -> str:
    """Graph-level report oracle: one aggregate over the bounded all-pairs
    BFS (_centrality_sql's result reused as a subquery)."""
    inner = _centrality_sql()
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(n_reached) AS BIGINT) AS n_pairs_dir,
       CAST(max(eccentricity) AS BIGINT) AS diameter,
       CAST((sum(sum_dist) * 1000000) // sum(n_reached) AS BIGINT)
         AS avg_dist_e6
FROM ({inner})"""


@register("kg_graph_summary_docs", _graph_summary_sql())
def kg_graph_summary_docs(spark, sf_dir):
    """Whole-graph health report: node count, reachable directed pairs,
    diameter (max eccentricity) and fixed-point average shortest-path
    length — one exact aggregate over harmonic_centrality's bounded
    all-pairs BFS."""
    from .operators.graph_algos import harmonic_centrality
    edges = _typed_edges(spark, sf_dir)
    c = harmonic_centrality(edges.withColumnRenamed("term_a", "subj")
                            .withColumnRenamed("term_b", "obj"))
    return c.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("n_reached").alias("n_pairs_dir"),
        F.max("eccentricity").alias("diameter"),
        F.expr("(sum(sum_dist) * 1000000L) div sum(n_reached)")
        .alias("avg_dist_e6"))


# ───────────────────────── round-5 additions ─────────────────────────

_Q3_SQL = """
SELECT l_orderkey,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2)
         AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", _Q3_SQL)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, decimal-exact revenue aggregate, top-10
    with a total order (l_orderkey is unique). Customer is the bounded dim
    at the gate but user-cardinality at scale — no broadcast hint; AQE
    decides (same rule as q_revenue_by_nation)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15 00:00:00").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp"))
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(price * (F.lit(1) - disc)).cast("double"), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def _degree_histogram_sql() -> str:
    return f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), deg AS (
  SELECT term AS node, count(*) AS d FROM (
    SELECT a AS term FROM e UNION ALL SELECT b FROM e
  ) GROUP BY term
)
SELECT CAST(length(bin(d)) - 1 AS INTEGER) AS bucket,
       count(*) AS n_nodes,
       CAST(min(d) AS BIGINT) AS min_degree,
       CAST(max(d) AS BIGINT) AS max_degree
FROM deg GROUP BY 1
"""


@register("kg_degree_histogram_docs", _degree_histogram_sql())
def kg_degree_histogram_docs(spark, sf_dir):
    """Log2-bucketed degree distribution of the co-occurrence graph — the
    one-page skew answer (how heavy is the Zipf head) that sizes salting
    and partition budgets. Bucket = ⌊log₂(deg)⌋ computed INTEGER-exactly as
    length(bin(deg))−1 (both engines' bin() drop leading zeros), never via
    float log2."""
    edges = _cooc_edges(spark, sf_dir)
    und = edges.select(F.col("term_a").alias("node")).unionAll(
        edges.select(F.col("term_b").alias("node")))
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy(
        (F.length(F.bin("d")) - 1).cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"))


def _neighbor_jaccard_sql() -> str:
    return f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), und AS MATERIALIZED (
  SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e
), deg AS (SELECT x, count(*) AS d FROM und GROUP BY x),
inter AS (
  SELECT e1.x AS a, e2.x AS b, count(*) AS i
  FROM und e1 JOIN und e2 ON e1.z = e2.z AND e1.x < e2.x
  GROUP BY e1.x, e2.x
)
SELECT a, b, CAST(i AS BIGINT) AS common_neighbors,
       round(CAST(i AS DOUBLE) / (da.d + db.d - i), 6) AS jaccard
FROM inter JOIN deg da ON da.x = a JOIN deg db ON db.x = b
"""


@register("kg_neighbor_jaccard_docs", _neighbor_jaccard_sql())
def kg_neighbor_jaccard_docs(spark, sf_dir):
    """Neighbor-set Jaccard link scores over the co-occurrence graph
    (operators/graph_algos.neighbor_jaccard) — the set-overlap complement
    of Adamic-Adar; an exact integer ratio per pair."""
    from .operators.graph_algos import neighbor_jaccard
    edges = _cooc_edges(spark, sf_dir)
    return neighbor_jaccard(edges, src="term_a", dst="term_b")


_VOCAB_COVERAGE_K = 100

_OOV_RATE_SQL = f"""
WITH words AS MATERIALIZED (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rn
    FROM words GROUP BY w
  ) WHERE rn <= {_VOCAB_COVERAGE_K}
)
SELECT doc_id, count(*) AS n_tokens,
       sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS n_oov,
       round(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM words LEFT JOIN vocab USING (w)
GROUP BY doc_id
"""


@register("text_oov_rate", _OOV_RATE_SQL)
def text_oov_rate(spark, sf_dir):
    """Per-document OOV rate against the corpus' top-K most frequent words
    (K=100, ties broken by word — a total order, so the vocabulary is
    deterministic). The coverage QA every tokenizer/vocab decision needs:
    docs with high OOV against the candidate vocabulary are the ones a
    fixed-vocab model will shred. Vocabulary is corpus-derived (one count +
    top-K), the scan joins against it broadcast."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy(F.desc("cnt"), F.asc("w"))
    vocab = (wc.withColumn("rn", F.row_number().over(wv))
             .filter(F.col("rn") <= _VOCAB_COVERAGE_K)
             .select("w", F.lit(True).alias("_in")))
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
             .alias("n_oov"))
        .select("doc_id", "n_tokens", "n_oov",
                F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 6)
                .alias("oov_rate"))
    )


_BIGRAM_LM_SQL = """
WITH words AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
), bi AS MATERIALIZED (
  SELECT z[1] AS w1, z[2] AS w2
  FROM (SELECT unnest(list_zip(ws, ws[2:])) AS z FROM words)
  WHERE z[2] IS NOT NULL
), c12 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c FROM bi GROUP BY w1),
v AS (SELECT count(DISTINCT w) AS n FROM (
  SELECT w1 AS w FROM bi UNION SELECT w2 FROM bi))
SELECT c12.w1, c12.w2, CAST(c12.c AS BIGINT) AS c_bigram,
       round((c12.c + 1) / CAST(c1.c + v.n AS DOUBLE), 6) AS p_smooth
FROM c12 JOIN c1 ON c12.w1 = c1.w1 CROSS JOIN v
"""


@register("text_bigram_lm", _BIGRAM_LM_SQL)
def text_bigram_lm(spark, sf_dir):
    """Add-one-smoothed bigram language-model counts over the corpus —
    P(w₂|w₁) = (c(w₁,w₂)+1)/(c(w₁·)+V) as an exact integer ratio (V =
    distinct vocabulary over bigram positions), the data-side half of a
    perplexity/quality filter. Bigrams explode from one zip of the word
    array with its own tail (no window shuffle)."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    bi = (
        d.select(ws.alias("ws"))
        .select(F.explode(F.zip_with(
            F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
            F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))).alias("p"))
        .select("p.w1", "p.w2")
    ).persist()
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bigram"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = (bi.select(F.col("w1").alias("w"))
               .union(bi.select(F.col("w2").alias("w")))
               .distinct().agg(F.count(F.lit(1)).alias("v")))
    return (
        c12.join(c1, "w1").crossJoin(F.broadcast(vocab_n))
        .select("w1", "w2", F.col("c_bigram").cast("long").alias("c_bigram"),
                F.round((F.col("c_bigram") + 1)
                        / (F.col("c1") + F.col("v")).cast("double"), 6)
                .alias("p_smooth"))
    )


def _mmr_sql(k: int = 5, pool: int = 20) -> str:
    """Unrolled MMR oracle: the identical greedy recursion as chained CTEs —
    one (sel_i, all_i) pair per step, each step's argmax ordered by
    (rel − maxsim) DESC, id ASC over the not-yet-selected pool."""
    dd = "list_dot_product"
    head = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
rel0 AS (
  SELECT q.query_id, a.vec_id AS id,
         round({dd}(a.embedding::DOUBLE[], q.qv)
               / (sqrt({dd}(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt({dd}(q.qv, q.qv))), 6) AS rel
  FROM embeddings a, q WHERE a.vec_id != q.query_id
),
rel AS MATERIALIZED (
  SELECT query_id, id, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, id ASC) AS rn
    FROM rel0) WHERE rn <= {pool}
),
cv AS MATERIALIZED (
  SELECT r.query_id, r.id, e.embedding::DOUBLE[] AS v
  FROM rel r JOIN embeddings e ON e.vec_id = r.id
),
sims AS MATERIALIZED (
  SELECT a.query_id, a.id AS ia, b.id AS ib,
         round({dd}(a.v, b.v)
               / (sqrt({dd}(a.v, a.v)) * sqrt({dd}(b.v, b.v))), 6) AS s
  FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.id <> b.id
),
sel1 AS (
  SELECT query_id, id, round(rel * 0.5, 6) AS mmr_score, 1 AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, id ASC) AS rn
    FROM rel) WHERE rn = 1
), all1 AS (SELECT query_id, id FROM sel1)"""
    steps = []
    for i in range(2, k + 1):
        p = i - 1
        steps.append(f""",
sel{i} AS (
  SELECT query_id, id, round((rel - ms) * 0.5, 6) AS mmr_score, {i} AS rank
  FROM (
    SELECT r.query_id, r.id, r.rel, m.ms,
           row_number() OVER (PARTITION BY r.query_id
                              ORDER BY r.rel - m.ms DESC, r.id ASC) AS rn
    FROM rel r
    JOIN (SELECT s.query_id, s.ia AS id, max(s.s) AS ms
          FROM sims s JOIN all{p} t
            ON t.query_id = s.query_id AND t.id = s.ib
          GROUP BY s.query_id, s.ia) m
      ON m.query_id = r.query_id AND m.id = r.id
    LEFT JOIN all{p} x ON x.query_id = r.query_id AND x.id = r.id
    WHERE x.id IS NULL
  ) WHERE rn = 1
), all{i} AS (SELECT * FROM all{p} UNION ALL SELECT query_id, id FROM sel{i})""")
    union = "\nUNION ALL\n".join(
        f"SELECT query_id, id, mmr_score, CAST(rank AS BIGINT) AS rank FROM sel{i}"
        for i in range(1, k + 1))
    return head + "".join(steps) + "\n" + union


@register("ann_mmr_topk", _mmr_sql())
def ann_mmr_topk(spark, sf_dir):
    """Diversified retrieval: MMR re-ranking of the brute-force pool
    (operators/similarity.mmr_topk, λ=1/2, k=5 from a pool of 20)."""
    from .operators.similarity import mmr_topk
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") < 10)
    return mmr_topk(embs, q, k=5, pool=20)


def _betweenness_sql(max_hops: int = 4, min_cooc: int = 322,
                     scale: int = 10**6) -> str:
    """Betweenness oracle: the stress BFS unroll with the σ_st floor
    division applied per ordered pair (see
    graph_algos.betweenness_centrality for why the per-pair floor is the
    operator's cross-engine-exact definition)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), e AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0
), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
s0 AS MATERIALIZED (
  SELECT node AS root, node, 0 AS d, 1 AS sig FROM nodes),
f0 AS (SELECT * FROM s0)"""
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(f""",
f{i} AS MATERIALIZED (
  SELECT p.root, e.dst AS node, {i} AS d, sum(p.sig) AS sig
  FROM f{i - 1} p JOIN e ON e.src = p.node
  WHERE NOT EXISTS (SELECT 1 FROM s{i - 1} s
                    WHERE s.root = p.root AND s.node = e.dst)
  GROUP BY p.root, e.dst),
s{i} AS MATERIALIZED (
  SELECT * FROM s{i - 1} UNION ALL SELECT * FROM f{i})"""
        )
    return head + "".join(steps) + f"""
SELECT sv.node AS node,
       CAST(sum((sv.sig * vt.sig * {scale}) // st.sig) // 2 AS BIGINT)
         AS betweenness_e6
FROM s{max_hops} sv
JOIN s{max_hops} vt ON vt.root = sv.node AND sv.d > 0 AND vt.d > 0
JOIN s{max_hops} st ON st.root = sv.root AND st.node = vt.node
                   AND st.d = sv.d + vt.d
GROUP BY sv.node"""


@register("kg_betweenness_docs", _betweenness_sql())
def kg_betweenness_docs(spark, sf_dir):
    """Fixed-point betweenness centrality on the sparsified co-occurrence
    graph (operators/graph_algos.betweenness_centrality) — completes the
    centrality battery (degree / harmonic / closeness / stress / PageRank /
    HITS) with the classic bridging-importance measure."""
    from .operators.graph_algos import betweenness_centrality
    edges = _cooc_edges(spark, sf_dir, 322)
    return betweenness_centrality(edges.withColumnRenamed("term_a", "subj")
                                  .withColumnRenamed("term_b", "obj"))


_KNN_GRAPH_SQL = """
WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.id, b.id AS nbr,
         round(list_dot_product(b.v, a.v)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(a.v, a.v))), 6) AS cos
  FROM v a JOIN v b ON a.id <> b.id
)
SELECT id, nbr, cos, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id
                                   ORDER BY cos DESC, nbr ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


@register("ann_knn_graph", _KNN_GRAPH_SQL)
def ann_knn_graph(spark, sf_dir):
    """k-NN graph construction (k=5 cosine neighbors per CORPUS row) — the
    substrate of graph-based ANN serving (HNSW/NSG), KNN clustering and
    label propagation over embeddings. Brute pairing is the gate-scale
    correctness baseline; at 10⁹ rows candidate generation swaps to the
    LSH/IVF bucket joins (same top-k tail, see similarity.py)."""
    from .operators.similarity import brute_force_topk
    embs = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(embs, embs, k=5) \
        .select(F.col("query_id").alias("id"), F.col("id").alias("nbr"),
                "cos", "rank")


def _tiff_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the REAL TIFF decode path: pixels are pure formulas of
    (x, y, id) (sources/multimodal.synthetic_tiff_media), so expected
    channel means recompute here with no TIFF bytes — a wrong strip
    boundary, inline-vs-pointer value read or endianness slip flips the
    hash."""
    rows = []
    for i in range(n):
        w = 13 + (i * 3 + seed) % 10
        h = 11 + (i * 5 + seed) % 8
        rs = gs = bs = 0
        for y in range(h):
            for x in range(w):
                if i % 5 == 4:
                    p = (x * 9 + y * 4 + i * 5) % 256
                    rs += p; gs += p; bs += p
                else:
                    rs += (x * 2 + y * 3 + i) % 256
                    gs += (x * 5 + y + i * 7) % 256
                    bs += (x + y * 7 + i * 13) % 256
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_tiff_features", _tiff_fixture_sql())
def multimodal_tiff_features(spark, sf_dir):
    """REAL strip-TIFF decode end to end inside mapInPandas
    (sources/multimodal.decode_tiff): IFD walk with inline-vs-pointer
    values, both byte orders, multi-strip assembly, RGB + grayscale —
    stdlib struct + numpy only; compressed/tiled TIFFs honestly refuse."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_tiff_media,
    )
    return extract_image_features_real(synthetic_tiff_media(spark, 30)) \
        .select("media_id", "width", "height",
                "r_mean", "g_mean", "b_mean")


_Q6_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 2)
         AS revenue_effect,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_SQL)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: one filtered scan, decimal-exact revenue-change
    aggregate — the pushdown showcase (every predicate reaches the parquet
    scan; plan-shape guarded like q1)."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(price * disc).cast("double"), 2)
             .alias("revenue_effect"),
             F.count(F.lit(1)).alias("n_lines"))
    )


_DUP_RATE_SQL = """
WITH g AS (
  SELECT source, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), grp AS (
  SELECT source, fp, count(*) AS sz FROM g GROUP BY source, fp
)
SELECT source, CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
       CAST(sum(sz - 1) AS BIGINT) AS redundant_docs,
       round(sum(sz - 1) / CAST(sum(sz) AS DOUBLE), 6) AS dup_rate
FROM grp GROUP BY source
"""


@register("dedup_rate_report", _DUP_RATE_SQL)
def dedup_rate_report(spark, sf_dir):
    """Per-source exact-duplication health report — the rollup every dedup
    pass publishes: docs, duplicate groups, redundant rows, dup rate. Same
    normalization+md5 fingerprint as dedup_exact_docs, aggregated twice
    (full-key then source) so the hot fingerprints never funnel."""
    from .functions.text import normalize_term
    d = _t(spark, sf_dir, "documents")
    grp = (d.withColumn("fp", F.md5(normalize_term(F.col("text"))))
           .groupBy("source", "fp").agg(F.count(F.lit(1)).alias("sz")))
    return (grp.groupBy("source")
            .agg(F.sum("sz").cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
                 .cast("long").alias("dup_groups"),
                 F.sum(F.col("sz") - 1).cast("long").alias("redundant_docs"),
                 F.round(F.sum(F.col("sz") - 1)
                         / F.sum("sz").cast("double"), 6).alias("dup_rate")))


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2)
         AS revenue
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", _Q10_SQL)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: lost revenue from returned items per customer —
    4-way join (nation broadcast, the only bounded dim), decimal-exact
    revenue, totally-ordered top-20."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(price * (F.lit(1) - disc)).cast("double"), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


_Q12_SQL = """
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


@register("q12_shipmode_priority", _Q12_SQL)
def q12_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape: one equi-join + conditional counts per group (the
    tables ship no shipmode column, so linestatus stands in as the grouping
    dimension — the operator classes exercised are identical)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"))
    )


_CLASS_WEIGHTS_SQL = """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
t AS (SELECT count(*) AS total, count(DISTINCT lang) AS k FROM documents)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       round(n / CAST(total AS DOUBLE), 6) AS share,
       CAST((total * 1000000) // (k * n) AS BIGINT) AS weight_e6
FROM c CROSS JOIN t
"""


@register("data_class_weights", _CLASS_WEIGHTS_SQL)
def data_class_weights(spark, sf_dir):
    """Inverse-frequency class-balancing weights per language — weight =
    N/(k·n_c) as a ×10⁶ integer floor (the sampling/loss-weight table every
    imbalanced-corpus trainer derives first)."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    t = d.agg(F.count(F.lit(1)).alias("total"),
              F.countDistinct("lang").alias("k"))
    return (c.crossJoin(F.broadcast(t))
            .select("lang", F.col("n").cast("long").alias("n_docs"),
                    F.round(F.col("n") / F.col("total").cast("double"), 6)
                    .alias("share"),
                    F.expr("(total * 1000000L) div (k * n)")
                    .alias("weight_e6")))


def _simrank_sql(n_iters: int = 3, min_cooc: int = 322,
                 c_num: int = 8, c_den: int = 10, scale: int = 10**12) -> str:
    """SimRank oracle: the identical integer recurrence unrolled — one
    (s_k, sym_k) CTE pair per iteration; sym_k is the symmetric closure of
    the nonzero off-diagonal state plus the implicit s(x,x)=scale
    diagonal."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS u, b.term AS v
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= {min_cooc}
), adj AS MATERIALIZED (
  SELECT u, v FROM e0 UNION SELECT v, u FROM e0
), deg AS MATERIALIZED (SELECT u, count(*) AS d FROM adj GROUP BY u),
diag AS MATERIALIZED (
  SELECT u AS i, u AS j, CAST({scale} AS BIGINT) AS s FROM deg),
sym0 AS (SELECT * FROM diag)"""
    steps = []
    for k in range(1, n_iters + 1):
        steps.append(f""",
s{k} AS MATERIALIZED (
  SELECT i, j, s FROM (
    SELECT x.v AS i, y.v AS j,
           ({c_num} * sum(p.s)) // ({c_den} * da.d * db.d) AS s
    FROM sym{k - 1} p
    JOIN adj x ON x.u = p.i
    JOIN adj y ON y.u = p.j
    JOIN deg da ON da.u = x.v
    JOIN deg db ON db.u = y.v
    WHERE x.v < y.v
    GROUP BY x.v, y.v, da.d, db.d
  ) WHERE s > 0
), sym{k} AS (
  SELECT * FROM s{k} UNION ALL SELECT j, i, s FROM s{k}
  UNION ALL SELECT * FROM diag)""")
    return head + "".join(steps) + f"""
SELECT i AS a, j AS b, CAST(s AS BIGINT) AS simrank_scaled FROM s{n_iters}"""


@register("kg_simrank_docs", _simrank_sql())
def kg_simrank_docs(spark, sf_dir):
    """SimRank structural similarity on the sparsified co-occurrence graph
    (operators/graph_algos.simrank): "similar because their neighbors are
    similar" — the recursive complement of the one-hop neighbor-Jaccard
    score, integer-exact at ×10¹²."""
    from .operators.graph_algos import simrank
    edges = _cooc_edges(spark, sf_dir, 322)
    return simrank(edges.withColumnRenamed("term_a", "subj")
                   .withColumnRenamed("term_b", "obj"))


_ANN_RANGE_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
scored AS (
  SELECT q.query_id, a.vec_id AS id,
         round(list_dot_product(a.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM embeddings a, q WHERE a.vec_id != q.query_id
)
SELECT query_id, id, cos FROM scored WHERE cos >= 0.2
"""


@register("ann_range_search", _ANN_RANGE_SQL)
def ann_range_search(spark, sf_dir):
    """Range (radius) similarity search — ALL corpus rows within cosine ≥ τ
    of each query, the other half of the ANN API surface (top-k returns a
    fixed count; range returns a fixed quality bar — the dedup/recall-audit
    primitive). Brute scoring at gate scale; the banded/IVF candidate
    generation applies unchanged at 10⁹ rows. No top-k window: a radius
    query is a pure filter after scoring — nothing to sort."""
    from .functions.vectors import cosine
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"))
    c = embs.select(F.col("vec_id").alias("id"),
                    F.col("embedding").cast("array<double>").alias("v"))
    return (c.crossJoin(F.broadcast(q))
            .filter(F.col("id") != F.col("query_id"))
            .select("query_id", "id",
                    F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos"))
            .filter(F.col("cos") >= 0.2))


def _metapath_sql() -> str:
    return f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS MATERIALIZED (
  SELECT a.term AS term_a, b.term AS term_b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term HAVING count(*) >= 2
), te AS MATERIALIZED (
  SELECT e.term_a, typ.pred, e.term_b
  FROM e0 e JOIN {kg_docs.typing_values_sql()}
    ON typ.term_a = e.term_a AND typ.term_b = e.term_b
), und AS MATERIALIZED (
  SELECT term_a AS src, pred, term_b AS dst FROM te
  UNION ALL SELECT term_b, pred, term_a FROM te
)
SELECT x.pred AS pred_1, y.pred AS pred_2, count(*) AS n_paths
FROM und x JOIN und y ON y.src = x.dst AND y.dst <> x.src
GROUP BY x.pred, y.pred
"""


@register("kg_metapath_counts_docs", _metapath_sql())
def kg_metapath_counts_docs(spark, sf_dir):
    """Typed 2-hop metapath census — how many (pred₁, pred₂) paths the KG
    holds (x —pred₁— m —pred₂— y, x ≠ y) — the schema-level profile that
    drives metapath2vec-style sampling budgets and relation co-occurrence
    QA. One self-join of the undirected typed edge list on the middle
    node."""
    te = _typed_edges(spark, sf_dir)
    und = te.select(F.col("term_a").alias("src"), "pred",
                    F.col("term_b").alias("dst")) \
        .unionAll(te.select(F.col("term_b").alias("src"), "pred",
                            F.col("term_a").alias("dst")))
    x = und.select(F.col("src").alias("x"), F.col("pred").alias("pred_1"),
                   F.col("dst").alias("mid"))
    y = und.select(F.col("src").alias("mid"), F.col("pred").alias("pred_2"),
                   F.col("dst").alias("y"))
    return (x.join(y, "mid")
            .filter(F.col("y") != F.col("x"))
            .groupBy("pred_1", "pred_2")
            .agg(F.count(F.lit(1)).alias("n_paths")))


_PPS_SAMPLE_K = 40

_PPS_SAMPLE_SQL = f"""
WITH w AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n_chars) OVER () AS total
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
       CAST(((cum - 1) * {_PPS_SAMPLE_K}) // total AS BIGINT) AS stratum
FROM w
WHERE (cum - 1) * {_PPS_SAMPLE_K} // total
      > (cum - n_chars - 1) * {_PPS_SAMPLE_K} // total
   OR cum = n_chars
"""


@register("data_pps_sample", _PPS_SAMPLE_SQL)
def data_pps_sample(spark, sf_dir):
    """Systematic probability-proportional-to-size sampling: lay documents
    on a line of cumulative weight (n_chars, doc_id order), cut it into K
    equal strata, keep each document whose weight span first crosses a
    stratum boundary — big documents are near-certain picks, small ones
    sampled ∝ weight, and EVERYTHING is integer arithmetic (the stratum of
    a cumulative position is (pos·K) DIV total), so the sample is
    deterministic and growth-stable. The weighted counterpart of
    data_hash_split for mixture construction. The prefix sum is one window
    over the doc_id total order (at 10⁹ docs: two-phase per-partition
    sums + a 16-row boundary stitch, the domain-budget pattern)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    k = F.lit(_PPS_SAMPLE_K)
    cum = F.sum("n_chars").over(w)
    total = F.sum("n_chars").over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing))
    x = d.select("doc_id", "n_chars", cum.alias("cum"), total.alias("total"))
    stratum = F.expr(f"((cum - 1) * {_PPS_SAMPLE_K}) div total")
    prev_stratum = F.expr(f"((cum - n_chars - 1) * {_PPS_SAMPLE_K}) div total")
    return (x.filter((stratum > prev_stratum) | (F.col("cum") == F.col("n_chars")))
            .select("doc_id", F.col("n_chars").cast("long").alias("weight"),
                    stratum.cast("long").alias("stratum")))


_Q13_SQL = """
WITH co AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM co GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_customer_distribution", _Q13_SQL)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: order-count distribution over ALL customers — the
    outer join is load-bearing (zero-order customers must appear as
    c_count=0, which an inner join would drop), with the order-side filter
    folded into the join condition so it cannot collapse the outer side.
    Two cascaded aggregations; the second one's key space is tiny."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    co = (c.join(o, (F.col("c_custkey") == F.col("o_custkey"))
                 & (F.col("o_orderpriority") != "5-LOW"), "left")
          .groupBy("c_custkey")
          .agg(F.count("o_orderkey").alias("c_count")))
    return (co.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
            .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
            .orderBy(F.desc("custdist"), F.desc("c_count")))


_Q14_SQL = """
SELECT round(
         CAST(100 * sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
         6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@register("q14_promo_revenue", _Q14_SQL)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promotion revenue share for one ship month. Both
    revenue sums are decimal-exact (conditional sum included); the ONLY
    float operations are the final division and round — the one pattern
    that hashes identically across engines for a ratio of sums."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    promo = F.when(F.col("p_type") == "PROMO", rev) \
             .otherwise(F.lit(0).cast("decimal(18,2)"))
    return (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .agg(F.round((F.lit(100) * F.sum(promo)).cast("double")
                         / F.sum(rev).cast("double"), 6)
                 .alias("promo_revenue_pct")))


_Q17_SQL = """
WITH pa AS (
  SELECT l_partkey AS pk, sum(CAST(l_quantity AS BIGINT)) AS sq,
         count(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa ON pk = l_partkey
WHERE p_brand = 'Brand#11'
  AND 5 * CAST(l_quantity AS BIGINT) * cnt < sq
"""


@register("q17_small_quantity_revenue", _Q17_SQL)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from orders below 20% of a part's average
    quantity. The correlated scalar subquery (per-part avg) is decorrelated
    into a groupBy + join, and the float comparison qty < 0.2*avg is
    rewritten cross-multiplied as 5*qty*cnt < sum — integer-exact, so no
    boundary row can flip between engines. The per-part aggregate is
    computed only for the brand's parts (semi-join pushdown), which at
    scale turns a full-lineitem aggregate into a pruned one."""
    parts = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    li = _t(spark, sf_dir, "lineitem")
    li_b = li.join(F.broadcast(parts.select("p_partkey")),
                   F.col("l_partkey") == F.col("p_partkey")).drop("p_partkey")
    pa = (li_b.groupBy(F.col("l_partkey").alias("pk"))
          .agg(F.sum(F.col("l_quantity").cast("long")).alias("sq"),
               F.count(F.lit(1)).alias("cnt")))
    return (li_b.join(F.broadcast(pa), F.col("l_partkey") == F.col("pk"))
            .filter(F.lit(5) * F.col("l_quantity").cast("long") * F.col("cnt")
                    < F.col("sq"))
            .agg(F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double") / F.lit(7.0), 2).alias("avg_yearly")))


_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey AS ok, sum(CAST(l_quantity AS BIGINT)) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS BIGINT)) > 150
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(total_qty AS BIGINT) AS total_qty
FROM big
JOIN orders ON o_orderkey = ok
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register("q18_large_volume_orders", _Q18_SQL)
def q18_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape: the 100 largest orders by total quantity — an
    aggregate-HAVING feeding a join back to its parent tables. The HAVING
    filter runs BEFORE the joins (the big-order key set is tiny relative
    to lineitem), so the expensive side never joins unfiltered."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (li.groupBy(F.col("l_orderkey").alias("ok"))
           .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
           .filter(F.col("total_qty") > 150))
    return (big.join(o, F.col("o_orderkey") == F.col("ok"))
            .join(c, F.col("c_custkey") == F.col("o_custkey"))
            .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                    "o_totalprice", F.col("total_qty").cast("long")
                    .alias("total_qty"))
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(100))


_Q19_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
             2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 40)
"""


@register("q19_disjunctive_revenue", _Q19_SQL)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under a disjunction of (brand, size,
    quantity) predicate groups spanning BOTH join sides — the classic
    OR-across-tables case an optimizer must not turn into a cartesian.
    The union of the three brands is pushed to the part scan as a derived
    IN-filter (implied by the disjunction), so the broadcast side prunes
    even though each disjunct alone can't be pushed below the join."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#15"))
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 20)
         & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(1, 30)
           & q.between(20, 40)))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .filter(cond)
            .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue")))


_Q22_SQL = """
WITH pos AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS total, count(*) AS cnt
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey AS cntrycode, CAST(count(*) AS BIGINT) AS numcust,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS totacctbal
FROM customer CROSS JOIN pos
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > total
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY cntrycode
"""


@register("q22_global_sales_opportunity", _Q22_SQL)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no urgent
    orders, grouped by country (nationkey stands in for the phone prefix —
    the tables ship no phone column). The global-average threshold is
    compared cross-multiplied (bal*cnt > sum, both decimal-exact) so no
    float-summation-order boundary flip is possible, and the scalar
    aggregate is a 1-row broadcast, never a shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos = (c.filter(F.col("c_acctbal") > 0.0)
           .agg(F.sum(bal).alias("total"), F.count(F.lit(1)).alias("cnt")))
    return (c.crossJoin(F.broadcast(pos))
            .filter(bal * F.col("cnt") > F.col("total"))
            .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
            .groupBy(F.col("c_nationkey").alias("cntrycode"))
            .agg(F.count(F.lit(1)).cast("long").alias("numcust"),
                 F.round(F.sum(bal).cast("double"), 2).alias("totacctbal"))
            .orderBy("cntrycode"))


_SUBSTR_SPANS_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS words
  FROM documents
), g0 AS (
  SELECT doc_id,
         unnest([{'pos': i,
                  'hh': substr(md5(array_to_string(words[i:i+7], ' ')), 1, 16)}
                 FOR i IN range(1, len(words) - 6)]) AS u
  FROM w WHERE len(words) >= 8
), g AS (SELECT doc_id, u.pos AS pos, u.hh AS hh FROM g0),
dup AS (SELECT hh FROM g GROUP BY hh HAVING count(DISTINCT doc_id) >= 2),
d AS (SELECT doc_id, pos FROM g JOIN dup USING (hh)),
i AS (SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM d)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
FROM i GROUP BY doc_id, grp
"""


@register("dedup_substring_spans", _SUBSTR_SPANS_SQL)
def dedup_substring_spans(spark, sf_dir):
    """Substring-level exact dedup: every maximal >= 8-token span that occurs
    verbatim in >= 2 distinct documents, as 1-based inclusive token
    positions — the boilerplate-paragraph finder document-level dedup is
    blind to. Only 64-bit window hashes shuffle; the oracle replays the
    identical sliding-window hash and island merge."""
    from .operators.dedup import duplicated_spans
    return duplicated_spans(_t(spark, sf_dir, "documents"), n=8)


def _bpe_encode_sql(n_merges: int = 12) -> str:
    """Oracle for corpus BPE ENCODING: reuses _bpe_sql's merge-training CTEs
    (b1..bN are the learned merges, 1 row each), then replays the same
    literal bracket replaces over every document's words — e{i} is e{i-1}
    cross-joined with the 1-row b{i} — and counts the resulting tokens."""
    train = _bpe_sql(n_merges)
    head = train[: train.index("\nSELECT CAST(merge_rank")]
    steps = [""",
docw AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''),
e0 AS MATERIALIZED (
  SELECT doc_id, length(word) AS n_chars,
         concat('<', array_to_string(string_split(word, ''), '><'), '>')
           AS syms
  FROM docw)"""]
    for i in range(1, n_merges + 1):
        steps.append(f""",
e{i} AS MATERIALIZED (
  SELECT doc_id, n_chars,
         replace(e.syms, '<' || b.l || '><' || b.r || '>',
                 '<' || b.l || b.r || '>') AS syms
  FROM e{i - 1} e, b{i} b)""")
    return head + "".join(steps) + f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(len(string_split(substr(syms, 2, length(syms) - 2), '><')))
            AS BIGINT) AS n_bpe_tokens
FROM e{n_merges} GROUP BY doc_id"""


@register("bpe_encode_docs", _bpe_encode_sql())
def bpe_encode_docs(spark, sf_dir):
    """Corpus tokenization with the LEARNED tokenizer — the other half of
    the BPE story (bpe_merges_docs trains it): apply the 12 learned merges
    to every document (operators/bpe.bpe_encode, a map-side chain of
    literal bracket replaces, no shuffle) and report per-doc word / char /
    BPE-token counts — the fertility numbers a tokenizer is judged by."""
    from .operators.bpe import bpe_encode, bpe_train
    d = _t(spark, sf_dir, "documents")
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_train(spark, d, n_merges=12)
              .orderBy("merge_rank").collect()]
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    return (bpe_encode(d, merges)
            .filter(F.size(words) >= 1)
            .select("doc_id",
                    F.size(words).cast("long").alias("n_words"),
                    F.aggregate(words, F.lit(0).cast("long"),
                                lambda acc, w: acc + F.length(w))
                    .alias("n_chars"),
                    F.size("bpe_tokens").cast("long").alias("n_bpe_tokens")))


_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       round(CAST(sum(rev) AS DOUBLE), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
         OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("q7_volume_shipping", _Q7_SQL)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: trade volume between two nations by ship year — a
    5-way join where the pair predicate spans BOTH nation dimensions
    (pushable to each broadcast side only as the 2-nation union, like
    Q19's disjunction). Both nation joins broadcast; everything else is
    AQE-eligible equi-joins on the fact tables."""
    pair = ("NATION_12", "NATION_10")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    return (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1.filter(F.col("supp_nation").isin(*pair))),
              F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2.filter(F.col("cust_nation").isin(*pair))),
              F.col("c_nationkey") == F.col("c_nk"))
        .filter(((F.col("supp_nation") == pair[0])
                 & (F.col("cust_nation") == pair[1]))
                | ((F.col("supp_nation") == pair[1])
                   & (F.col("cust_nation") == pair[0])))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year"))


_Q8_SQL = """
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY o_year
ORDER BY o_year
"""


@register("q8_market_share", _Q8_SQL)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue sold into a
    region, by order year — an 8-way snowflake join whose ratio-of-sums is
    decimal-exact up to the single final division. Region/nation/part sides
    all broadcast; the conditional numerator keeps the non-matching rows
    (ELSE 0) so the denominator is the full regional revenue."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), "n_regionkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    num = F.when(F.col("supp_nation") == "NATION_2", rev) \
           .otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(num).cast("double")
                     / F.sum(rev).cast("double"), 6).alias("mkt_share"))
        .orderBy("o_year"))


_MIX_SQL = """
WITH r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat('mix:42:', CAST(doc_id AS VARCHAR))), doc_id)
         AS BIGINT) AS src_rank
  FROM documents
), n AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
v AS (
  SELECT doc_id, r.source AS source, src_rank,
         CAST((CAST(src_rank - 1 AS HUGEINT) * 1000000000000) // n.n
              AS BIGINT) AS vt_scaled
  FROM r JOIN n ON r.source = n.source
)
SELECT doc_id, source, src_rank, vt_scaled,
       CAST(row_number() OVER (ORDER BY vt_scaled, source, src_rank)
            AS BIGINT) AS global_ix,
       CAST((row_number() OVER (ORDER BY vt_scaled, source, src_rank) - 1)
            // 100 AS BIGINT) AS shard
FROM v
"""


@register("data_mix_interleave", _MIX_SQL)
def data_mix_interleave(spark, sf_dir):
    """Epoch-balanced data-mixing manifest: every source's documents
    deterministically shuffled (md5 'mix' tag) and interleaved by integer
    weighted-fair-queuing virtual time so each source spreads uniformly
    over the epoch, then cut into 100-doc training shards — the global
    read order a multi-domain trainer consumes."""
    from .operators.text_analysis import interleave_manifest
    return interleave_manifest(_t(spark, sf_dir, "documents"),
                               shard_size=100)


# ──────────────── TPC-H shapes, wave 6 (no-partsupp adaptations) ────────────────
# The testdata has no partsupp table, so Q2/Q11/Q16/Q20 use lineitem's
# (l_partkey, l_suppkey) pairs as the part-supplier relation and Q21 uses
# l_shipdate ordering instead of commit/receipt dates. The operator SHAPES —
# correlated-min decorrelation, correlated-EXISTS semi-join, global-total
# scalar subquery in HAVING, nested semi-joins, EXISTS+NOT-EXISTS double
# correlation — are preserved exactly; each oracle keeps the subquery form
# DuckDB-side while the Spark side uses the decorrelated join plan, so the
# hash match proves the decorrelation is semantics-preserving.

_Q2_SQL = """
WITH eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), ps AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
  GROUP BY 1, 2
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(cost AS DOUBLE) AS supply_cost
FROM ps
JOIN part ON p_partkey = pk
JOIN eu ON s_suppkey = sk
WHERE p_type = 'LARGE' AND p_size <= 10
  AND cost = (SELECT min(cost) FROM ps ps2 WHERE ps2.pk = ps.pk)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("q2_min_cost_supplier", _Q2_SQL)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: minimum-cost supplier per part within one region.
    The correlated scalar-min subquery (min cost among the region's
    suppliers of THIS part) is decorrelated into a per-part aggregate +
    equality join-back — cost is a decimal min so the equality is exact.
    The region's supplier set is tiny and broadcast twice (once to prune
    the part-supplier aggregate's input, once to decorate the result); the
    only shuffle is the (part, supplier) aggregate, which at 100 TB is the
    partsupp-build itself and shares its partitioning with the join-back."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10))
    eu = (s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
          .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    li = _t(spark, sf_dir, "lineitem")
    ps = (li.join(F.broadcast(eu.select("s_suppkey")),
                  F.col("l_suppkey") == F.col("s_suppkey"), "leftsemi")
          .groupBy(F.col("l_partkey").alias("pk"),
                   F.col("l_suppkey").alias("sk"))
          .agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)"))
               .alias("cost")))
    minc = ps.groupBy("pk").agg(F.min("cost").alias("min_cost"))
    return (ps.join(minc.withColumnRenamed("pk", "mpk"),
                    (F.col("pk") == F.col("mpk"))
                    & (F.col("cost") == F.col("min_cost")))
            .join(F.broadcast(p), F.col("pk") == F.col("p_partkey"))
            .join(F.broadcast(eu), F.col("sk") == F.col("s_suppkey"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
                    F.col("cost").cast("double").alias("supply_cost"))
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100))


_Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q4_late_ship_priority", _Q4_SQL)
def q4_late_ship_priority(spark, sf_dir):
    """TPC-H Q4 shape: order counts by priority for orders with at least
    one line shipped more than 60 days after the order date. The correlated
    EXISTS becomes a LEFT SEMI join whose condition references BOTH sides
    (l_shipdate > o_orderdate + 60d) — Spark keeps the equi-part
    (l_orderkey = o_orderkey) as the shuffle key and evaluates the date
    predicate as a residual, so the semi-join never degenerates to a
    cartesian; the quarter filter on orders is pushed to the scan."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    return (o.join(li, (F.col("l_orderkey") == F.col("o_orderkey"))
                   & (F.col("l_shipdate")
                      > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
                   "leftsemi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
            .orderBy("o_orderpriority"))


_Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))
                      - CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS BIGINT)) AS DOUBLE), 2)
         AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


@register("q9_product_profit", _Q9_SQL)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and order year for one
    product family (cost proxied by retail price × quantity since there is
    no partsupp supplycost). Every term is decimal- or integer-exact; the
    single float appears at the final cast+round. part/supplier/nation
    broadcast; the orders join is the only big-big shuffle and it is an
    equi-join on l_orderkey — the natural co-partition key at scale."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    amount = (F.col("l_extendedprice").cast("decimal(18,2)")
              * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
              - F.col("p_retailprice").cast("decimal(18,2)")
              * F.col("l_quantity").cast("long"))
    return (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.round(F.sum(amount).cast("double"), 2).alias("profit"))
            .orderBy("nation", F.desc("o_year")))


_Q11_SQL = """
WITH asian AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), pv AS (
  SELECT l_partkey AS pk,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM asian)
  GROUP BY 1
)
SELECT pk AS p_partkey, round(CAST(val AS DOUBLE), 2) AS part_value
FROM pv
WHERE val * 1000 > (SELECT sum(val) FROM pv)
ORDER BY part_value DESC, p_partkey
"""


@register("q11_value_concentration", _Q11_SQL)
def q11_value_concentration(spark, sf_dir):
    """TPC-H Q11 shape: parts whose traded value (through one region's
    suppliers) exceeds a fixed fraction of the region's total (0.1%). The
    scalar subquery against the GLOBAL total becomes a 1-row aggregate
    cross-joined (broadcast) onto the per-part aggregate, and the float
    threshold is cross-multiplied into the exact decimal comparison
    val*1000 > total — no boundary part can flip between engines. The
    per-part aggregate is computed once and reused for both sides, so the
    lineitem scan happens once at scale (Spark reuses the shuffle via the
    cached plan subtree)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian = (s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
             .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
             .select("s_suppkey"))
    li = _t(spark, sf_dir, "lineitem")
    pv = (li.join(F.broadcast(asian),
                  F.col("l_suppkey") == F.col("s_suppkey"), "leftsemi")
          .groupBy(F.col("l_partkey").alias("pk"))
          .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
               .alias("val"))).persist()
    total = pv.agg(F.sum("val").alias("total"))
    return (pv.crossJoin(F.broadcast(total))
            .filter(F.col("val") * 1000 > F.col("total"))
            .select(F.col("pk").alias("p_partkey"),
                    F.round(F.col("val").cast("double"), 2)
                    .alias("part_value"))
            .orderBy(F.desc("part_value"), "p_partkey"))


_Q15_SQL = """
WITH revs AS (
  SELECT l_suppkey AS sk,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name,
       round(CAST(total_rev AS DOUBLE), 2) AS total_revenue
FROM revs JOIN supplier ON s_suppkey = sk
WHERE total_rev = (SELECT max(total_rev) FROM revs)
ORDER BY s_suppkey
"""


@register("q15_top_supplier", _Q15_SQL)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in a quarter.
    The revenue 'view' is one per-supplier aggregate; the scalar-max
    subquery is a 1-row broadcast and the tie-keeping equality is DECIMAL
    equality on identical sums — exact in both engines (a top-1 LIMIT
    would silently drop ties; the equality join keeps them, which is the
    point of Q15)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)")))
    revs = (li.groupBy(F.col("l_suppkey").alias("sk"))
            .agg(F.sum(rev).alias("total_rev"))).persist()
    mx = revs.agg(F.max("total_rev").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    return (revs.crossJoin(F.broadcast(mx))
            .filter(F.col("total_rev") == F.col("mx"))
            .join(F.broadcast(s), F.col("sk") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.round(F.col("total_rev").cast("double"), 2)
                    .alias("total_revenue"))
            .orderBy("s_suppkey"))


_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_name LIKE '%7')
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("q16_supplier_variety", _Q16_SQL)
def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    excluding a complaint-list of suppliers. The NOT IN becomes a LEFT
    ANTI join against the (tiny, broadcast) complaint set — safe here
    because s_suppkey is non-null by construction; a NULL-laden NOT IN
    would need the null-aware variant. The distinct aggregate is the real
    cost: Spark expands it to a two-phase (group on key+suppkey, then
    count) which partial-aggregates map-side before the shuffle."""
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7")).select("s_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(F.broadcast(bad),
                    F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
            .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").cast("long")
                 .alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"))


_Q20_SQL = """
WITH sp AS (
  SELECT l_suppkey AS sk, l_partkey AS pk,
         sum(CAST(l_quantity AS BIGINT)) AS sqty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_name LIKE 'small%')
  GROUP BY 1, 2
), tot AS (SELECT pk, sum(sqty) AS tq FROM sp GROUP BY 1)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT sk FROM sp JOIN tot USING (pk)
                    WHERE 2 * sqty > tq)
  AND s_nationkey IN (SELECT n_nationkey FROM nation
                      JOIN region ON n_regionkey = r_regionkey
                      WHERE r_name = 'ASIA')
ORDER BY s_suppkey
"""


@register("q20_dominant_shippers", _Q20_SQL)
def q20_dominant_shippers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers in one region who shipped more than half
    of a part family's yearly volume for some part. Three nested IN
    subqueries become: a broadcast semi-join pruning lineitem to the part
    family, a (part, supplier) integer aggregate, a per-part total reusing
    that aggregate, the half-share filter cross-multiplied to integers
    (2*sqty > tq), then two broadcast semi-joins onto supplier. The
    aggregate-on-aggregate reuses the (pk, sk) shuffle's output
    partitioning for the per-part rollup — one wide shuffle total."""
    small = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")))
    sp = (li.join(F.broadcast(small),
                  F.col("l_partkey") == F.col("p_partkey"), "leftsemi")
          .groupBy(F.col("l_suppkey").alias("sk"),
                   F.col("l_partkey").alias("pk"))
          .agg(F.sum(F.col("l_quantity").cast("long")).alias("sqty"))).persist()
    tot = sp.groupBy("pk").agg(F.sum("sqty").alias("tq"))
    dominant = (sp.join(tot.withColumnRenamed("pk", "tpk"),
                        F.col("pk") == F.col("tpk"))
                .filter(F.lit(2) * F.col("sqty") > F.col("tq"))
                .select("sk").distinct())
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian_nk = (n.join(F.broadcast(r),
                       F.col("n_regionkey") == F.col("r_regionkey"))
                .select("n_nationkey"))
    s = _t(spark, sf_dir, "supplier")
    return (s.join(F.broadcast(dominant),
                   F.col("s_suppkey") == F.col("sk"), "leftsemi")
            .join(F.broadcast(asian_nk),
                  F.col("s_nationkey") == F.col("n_nationkey"), "leftsemi")
            .select("s_suppkey", "s_name")
            .orderBy("s_suppkey"))


_Q21_SQL = """
SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate >= l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("q21_sole_blockers", _Q21_SQL)
def q21_sole_blockers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE latest shipper on
    multi-supplier finished orders (shipdate stands in for the missing
    commit/receipt dates). The EXISTS + NOT-EXISTS double correlation is
    decorrelated into ONE windowed pass over (order, supplier, max ship):
    a supplier blocks an order iff the order has >1 suppliers and exactly
    one supplier attains the order's max ship date — provably the same
    predicate as the subquery pair (S's latest date strictly dominates
    every other supplier's ⟺ no other supplier shipped ≥ any of S's
    dates' max ⟺ the NOT EXISTS). One shuffle on l_orderkey replaces two
    correlated scans of lineitem — the classic Q21 rewrite that matters at
    100 TB, where the naive plan re-reads the fact table twice."""
    o_f = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    per = (li.join(o_f, F.col("l_orderkey") == F.col("o_orderkey"), "leftsemi")
           .groupBy("l_orderkey", "l_suppkey")
           .agg(F.max("l_shipdate").alias("supp_max")))
    w = Window.partitionBy("l_orderkey")
    per = (per.withColumn("omax", F.max("supp_max").over(w))
           .withColumn("nsupp", F.count(F.lit(1)).over(w))
           .withColumn("at_max", F.sum(
               F.when(F.col("supp_max") == F.col("omax"), 1)
               .otherwise(0)).over(w)))
    blockers = per.filter((F.col("nsupp") > 1) & (F.col("at_max") == 1)
                          & (F.col("supp_max") == F.col("omax")))
    s = _t(spark, sf_dir, "supplier")
    return (blockers.join(F.broadcast(s),
                          F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name")
            .limit(100))


_SCC_SQL_TPL = """
WITH RECURSIVE pos AS (
  SELECT doc_id, term,
         list_position(string_split(text, ' '), term) AS fp
  FROM documents, {lex}
  WHERE list_position(string_split(text, ' '), term) > 0
),
cnt AS (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.fp < b.fp
  GROUP BY 1, 2
),
de AS (
  SELECT c1.src, c1.dst
  FROM cnt c1 JOIN cnt c2 ON c1.src = c2.dst AND c1.dst = c2.src
  WHERE c1.w >= c2.w + 12
),
verts AS (SELECT DISTINCT src AS v FROM de
          UNION SELECT DISTINCT dst FROM de),
reach(a, b) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN de e ON r.b = e.src
)
SELECT r1.a AS term, min(r1.b) AS scc_id
FROM reach r1
WHERE EXISTS (SELECT 1 FROM reach r2 WHERE r2.a = r1.b AND r2.b = r1.a)
GROUP BY r1.a
ORDER BY term
"""


@register("kg_scc_docs",
          _SCC_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_scc_docs(spark, sf_dir):
    """Strongly connected components over the directed FIRST-MENTION-ORDER
    graph: within each document, term a points at term b when a's first
    occurrence precedes b's; across the corpus the pair keeps only its
    dominant direction with a margin of 12 supporting documents (a
    majority tournament with a significance band — symmetric pairs drop,
    which is what leaves real cycles AND real DAG structure). SCC = the
    multi-pivot forward-backward peel (graph_algos.py), whose label-only
    integer/string propagation matches the transitive-closure SQL oracle
    row-for-row — the oracle keeps the closure form so the hash match
    proves the FW-BW decomposition.

    Scale shape: mention positions and ordered pairs are generated
    MAP-SIDE with array higher-order functions (no per-doc explode+join);
    the only data-sized shuffle is the (src, dst) count over a
    vocabulary-bounded key space. The SCC loop itself runs on the
    vocabulary projection, same posture as kg_components_docs."""
    from .operators.graph_algos import strongly_connected_components
    de = _mention_order_edges(spark, sf_dir)
    return (strongly_connected_components(de, src="src", dst="dst")
            .select(F.col("node").alias("term"), "scc_id")
            .orderBy("term"))


def _mention_order_edges(spark, sf_dir):
    """Memoized margin-12 dominant-direction tournament over first-mention
    order (shared by kg_scc_docs and kg_condensation_layers_docs)."""
    def build():
        docs = _t(spark, sf_dir, "documents")
        terms = [t for t, _ in kg_docs.DOC_LEXICON]
        w = F.split(F.col("text"), " ")
        pos = F.array(*[
            F.struct(F.lit(t).alias("term"),
                     F.array_position(w, t).alias("fp")) for t in terms])
        present = F.filter(pos, lambda x: x["fp"] > 0)
        d = docs.select("doc_id", present.alias("pr"))
        pairs = F.flatten(F.transform(
            F.col("pr"),
            lambda a: F.transform(
                F.filter(F.col("pr"), lambda b: b["fp"] > a["fp"]),
                lambda b: F.struct(a["term"].alias("src"),
                                   b["term"].alias("dst")))))
        cnt = (d.select(F.explode(pairs).alias("p"))
               .groupBy(F.col("p.src").alias("src"),
                        F.col("p.dst").alias("dst"))
               .agg(F.count(F.lit(1)).alias("w")))
        rev = cnt.select(F.col("src").alias("rsrc"),
                         F.col("dst").alias("rdst"),
                         F.col("w").alias("rw"))
        return (cnt.join(rev, (F.col("src") == F.col("rdst"))
                         & (F.col("dst") == F.col("rsrc")))
                .filter(F.col("w") >= F.col("rw") + 12)
                .select("src", "dst").persist())
    return _memo(spark, ("mention_order_edges", sf_dir), build)


_DOC_LM_SCORE_SQL = """
WITH words AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
), bi AS MATERIALIZED (
  SELECT doc_id, z[1] AS w1, z[2] AS w2
  FROM (SELECT doc_id, unnest(list_zip(ws, ws[2:])) AS z FROM words)
  WHERE z[2] IS NOT NULL
), c12 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c FROM bi GROUP BY w1),
v AS (SELECT count(DISTINCT w) AS n FROM (
  SELECT w1 AS w FROM bi UNION SELECT w2 FROM bi))
SELECT bi.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum((c12.c + 1) * 1000000000 // (c1.c + v.n)) AS BIGINT)
         AS sum_score_e9,
       CAST(sum((c12.c + 1) * 1000000000 // (c1.c + v.n)) // count(*)
            AS BIGINT) AS avg_score_e9
FROM bi JOIN c12 ON bi.w1 = c12.w1 AND bi.w2 = c12.w2
JOIN c1 ON bi.w1 = c1.w1 CROSS JOIN v
GROUP BY bi.doc_id
ORDER BY doc_id
"""


@register("text_doc_lm_score", _DOC_LM_SCORE_SQL)
def text_doc_lm_score(spark, sf_dir):
    """Per-document likelihood score under the corpus's own add-one
    bigram LM — the quality/perplexity-filter primitive that ranks
    documents by how typical their word transitions are. Each bigram earns
    the integer fixed-point score ⌊(c(w₁,w₂)+1)·10⁹ / (c(w₁·)+V)⌋ (the
    smoothed probability ×10⁹, floored BEFORE summing so every engine adds
    the same longs); a document's score is the exact sum and floored mean.
    Scale shape: the bigram-count tables are vocabulary²-bounded, so the
    score join is an equi-join against a dimension that a real corpus
    broadcasts or bucket-joins; the per-doc rollup is one map-side-
    combinable aggregate on doc_id. Overflow: c·10⁹ stays under 2⁶³ up to
    ~9·10⁹ occurrences of a single bigram — beyond that, move the product
    to decimal(38,0)."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    bi = (
        d.select("doc_id", ws.alias("ws"))
        .select("doc_id", F.explode(F.zip_with(
            F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
            F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    ).persist()
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = (bi.select(F.col("w1").alias("w"))
               .union(bi.select(F.col("w2").alias("w")))
               .distinct().agg(F.count(F.lit(1)).alias("v")))
    score = F.expr("((c12 + 1) * 1000000000L) div (c1 + v)")
    return (bi.join(c12, ["w1", "w2"]).join(c1, "w1")
            .crossJoin(F.broadcast(vocab_n))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.sum(score).cast("long").alias("sum_score_e9"))
            .select("doc_id", "n_bigrams", "sum_score_e9",
                    F.expr("sum_score_e9 div n_bigrams").cast("long")
                    .alias("avg_score_e9"))
            .orderBy("doc_id"))


_TOKEN_CLIP_SQL = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
)
SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(least(len(ws), 64) AS BIGINT) AS kept_tokens,
       CAST(len(ws) > 64 AS BIGINT) AS clipped,
       md5(array_to_string(ws[1:64], ' ')) AS clip_fingerprint
FROM words
ORDER BY doc_id
"""


@register("data_token_clip", _TOKEN_CLIP_SQL)
def data_token_clip(spark, sf_dir):
    """Token-budget clipping — every document truncated to its first 64
    tokens (the max-sequence-length guard in front of packing/tokenizer
    stages), reporting kept/total counts, a clipped flag, and the md5
    fingerprint of the clipped text so the cut content is itself
    dedupable/verifiable downstream. Pure map-side: split, slice, hash —
    no shuffle at any scale except the final presentation sort."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    return (d.select("doc_id", ws.alias("ws"))
            .select("doc_id",
                    F.size("ws").cast("long").alias("n_tokens"),
                    F.least(F.size("ws"), F.lit(64)).cast("long")
                    .alias("kept_tokens"),
                    (F.size("ws") > 64).cast("long").alias("clipped"),
                    F.md5(F.concat_ws(" ", F.slice("ws", 1, 64)))
                    .alias("clip_fingerprint"))
            .orderBy("doc_id"))


_PRED_CARD_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), typed AS (
  SELECT typ.pred, p.term_a, p.term_b
  FROM pairs p JOIN {kg_docs.typing_values_sql()}
    ON typ.term_a = p.term_a AND typ.term_b = p.term_b
)
SELECT pred, CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT term_a) AS BIGINT) AS n_subj,
       CAST(count(DISTINCT term_b) AS BIGINT) AS n_obj,
       CAST(count(*) * 1000000 // count(DISTINCT term_a) AS BIGINT)
         AS fanout_e6,
       CAST(count(*) * 1000000 // count(DISTINCT term_b) AS BIGINT)
         AS fanin_e6
FROM typed GROUP BY pred ORDER BY pred
"""


@register("kg_pred_cardinality_docs", _PRED_CARD_SQL)
def kg_pred_cardinality_docs(spark, sf_dir):
    """Predicate cardinality profile over the typed KG: per relationship
    type, edge count, distinct-subject and distinct-object counts, and the
    integer fixed-point fan-out/fan-in ratios (edges·10⁶ div subjects /
    objects) — the schema-statistics pass a KG query optimizer or
    embedding-model trainer reads first (functional predicates train
    differently from many-many ones). One aggregate over the memoized
    typed-edge table; multi-distinct expands to Spark's standard expand +
    two-phase plan — still a single shuffle on the 7-value pred key."""
    te = _typed_edges(spark, sf_dir)
    return (te.groupBy("pred")
            .agg(F.count(F.lit(1)).cast("long").alias("n_edges"),
                 F.countDistinct("term_a").cast("long").alias("n_subj"),
                 F.countDistinct("term_b").cast("long").alias("n_obj"))
            .select("pred", "n_edges", "n_subj", "n_obj",
                    F.expr("n_edges * 1000000L div n_subj").cast("long")
                    .alias("fanout_e6"),
                    F.expr("n_edges * 1000000L div n_obj").cast("long")
                    .alias("fanin_e6"))
            .orderBy("pred"))


_LEAKSAFE_SPLIT_SQL = """
WITH g AS (SELECT doc_id, md5(text) AS grp FROM documents),
b AS (
  SELECT doc_id, grp,
         CAST(CAST(concat('0x', substr(md5(concat('split:42:', grp)), 1, 16))
                   AS UBIGINT) % 10000 AS INTEGER) AS bucket
  FROM g
)
SELECT doc_id, grp,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM b
ORDER BY doc_id
"""


@register("data_leakage_safe_split", _LEAKSAFE_SPLIT_SQL)
def data_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: the split key is the EXACT-DUP
    GROUP (md5 of the text), not the document id, so byte-identical
    documents can never straddle the train/eval boundary — the elementary
    contamination guard every eval pipeline needs before the fuzzier
    n-gram decontamination pass (text_contamination). Same md5-bucket
    assignment as data_hash_split, keyed by group; map-side only."""
    from .operators.text_analysis import hash_split
    d = _t(spark, sf_dir, "documents").withColumn("grp", F.md5("text"))
    return (hash_split(d, key_col="grp")
            .select("doc_id", "grp", "split").orderBy("doc_id"))


_COND_LAYERS_SQL_TPL = """
WITH RECURSIVE pos AS (
  SELECT doc_id, term,
         list_position(string_split(text, ' '), term) AS fp
  FROM documents, {lex}
  WHERE list_position(string_split(text, ' '), term) > 0
),
cnt AS (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.fp < b.fp
  GROUP BY 1, 2
),
de AS (
  SELECT c1.src, c1.dst
  FROM cnt c1 JOIN cnt c2 ON c1.src = c2.dst AND c1.dst = c2.src
  WHERE c1.w >= c2.w + 12
),
verts AS (SELECT DISTINCT src AS v FROM de
          UNION SELECT DISTINCT dst FROM de),
reach(a, b) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN de e ON r.b = e.src
),
scc AS (
  SELECT r1.a AS term, min(r1.b) AS scc_id
  FROM reach r1
  WHERE EXISTS (SELECT 1 FROM reach r2 WHERE r2.a = r1.b AND r2.b = r1.a)
  GROUP BY r1.a
),
ce AS (
  SELECT DISTINCT s1.scc_id AS src, s2.scc_id AS dst
  FROM de JOIN scc s1 ON s1.term = de.src
  JOIN scc s2 ON s2.term = de.dst
  WHERE s1.scc_id <> s2.scc_id
),
cverts AS (SELECT DISTINCT scc_id AS v FROM scc),
paths(v, l) AS (
  SELECT v, 0 FROM cverts
  UNION
  SELECT ce.dst, paths.l + 1 FROM paths JOIN ce ON ce.src = paths.v
),
layers AS (SELECT v AS scc_id, max(l) AS layer FROM paths GROUP BY v)
SELECT l.scc_id, CAST(l.layer AS BIGINT) AS layer,
       CAST(count(*) AS BIGINT) AS n_members
FROM layers l JOIN scc ON scc.scc_id = l.scc_id
GROUP BY 1, 2
ORDER BY layer, l.scc_id
"""


@register("kg_condensation_layers_docs",
          _COND_LAYERS_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_condensation_layers_docs(spark, sf_dir):
    """Topological depth of the mention-order graph's CONDENSATION: SCCs
    contracted to super-nodes, then layer = longest path ending at each
    super-node (sources at 0) — 'which concept clusters are upstream of
    which' plus the depth bound any staged traversal of the KG inherits.
    Composes the two graph primitives: strongly_connected_components →
    contract → dag_longest_path_layers (relaxation converges in exactly
    `depth` rounds on the DAG and raises on a cycle, so a wrong SCC
    contraction cannot silently produce wrong layers). The oracle chains
    two recursive CTEs (closure → SCC → path enumeration) — the hash match
    proves contraction + relaxation against first-principles SQL."""
    from .operators.graph_algos import (
        dag_longest_path_layers,
        strongly_connected_components,
    )
    de = _mention_order_edges(spark, sf_dir)
    scc = strongly_connected_components(de, src="src", dst="dst").persist()
    s1 = scc.select(F.col("node").alias("src"), F.col("scc_id").alias("c1"))
    s2 = scc.select(F.col("node").alias("dst"), F.col("scc_id").alias("c2"))
    ce = (de.join(s1, "src").join(s2, "dst")
          .filter(F.col("c1") != F.col("c2"))
          .select(F.col("c1").alias("src"), F.col("c2").alias("dst"))
          .distinct())
    layers = dag_longest_path_layers(ce, src="src", dst="dst")
    members = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"))
    return (members.join(layers.withColumnRenamed("node", "scc_id"),
                         "scc_id", "left")
            .select("scc_id",
                    F.coalesce(F.col("layer"), F.lit(0)).cast("long")
                    .alias("layer"), "n_members")
            .orderBy("layer", "scc_id"))


_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id) AS types
  FROM events GROUP BY user_id
), tr AS (
  SELECT z[1] AS prev_type, z[2] AS next_type
  FROM (SELECT unnest(list_zip(types, types[2:])) AS z FROM seq)
  WHERE z[2] IS NOT NULL
), c AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM tr GROUP BY 1, 2
), tot AS (SELECT prev_type, sum(n) AS t FROM c GROUP BY 1)
SELECT c.prev_type, c.next_type, CAST(n AS BIGINT) AS n_transitions,
       CAST(n * 1000000 // t AS BIGINT) AS p_e6
FROM c JOIN tot ON c.prev_type = tot.prev_type
ORDER BY c.prev_type, next_type
"""


_LEXDIV_SQL = """
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents
), wc AS (
  SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
       CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_e6,
       CAST(count(*) FILTER (WHERE c = 1) * 1000000 // count(*) AS BIGINT)
         AS hapax_ratio_e6
FROM wc GROUP BY doc_id
ORDER BY doc_id
"""


@register("text_lexical_diversity", _LEXDIV_SQL)
def text_lexical_diversity(spark, sf_dir):
    """Lexical diversity per document: type/token ratio and hapax-legomena
    ratio as exact ×10⁶ integer ratios — the vocabulary-richness signal
    quality filters use to separate template spam (low TTR) from natural
    prose, complementary to the repetition stats (which look at n-gram
    structure, not vocabulary). Map-side explode + one two-level
    aggregate keyed by doc; no joins."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    wc = (d.select("doc_id", F.explode(ws).alias("word"))
          .groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c")))
    return (wc.groupBy("doc_id")
            .agg(F.sum("c").cast("long").alias("n_tokens"),
                 F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .cast("long").alias("n_hapax"))
            .select("doc_id", "n_tokens", "n_types", "n_hapax",
                    F.expr("n_types * 1000000L div n_tokens").cast("long")
                    .alias("ttr_e6"),
                    F.expr("n_hapax * 1000000L div n_types").cast("long")
                    .alias("hapax_ratio_e6"))
            .orderBy("doc_id"))


_NOVELTY_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         concat(z[1], ' ', z[2], ' ', z[3]) AS shingle
  FROM (SELECT doc_id,
               unnest(list_zip(ws, ws[2:], ws[3:])) AS z FROM w)
  WHERE z[3] IS NOT NULL
), df AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
)
SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(*) FILTER (WHERE df = 1) AS BIGINT) AS n_unique,
       CAST(count(*) FILTER (WHERE df = 1) * 1000000 // count(*) AS BIGINT)
         AS novelty_e6
FROM sh JOIN df ON sh.shingle = df.shingle
GROUP BY sh.doc_id
ORDER BY doc_id
"""


@register("text_novelty", _NOVELTY_SQL)
def text_novelty(spark, sf_dir):
    """Per-document novelty: the fraction of the document's distinct word
    3-shingles that appear NOWHERE else in the corpus (document frequency
    1), as an exact ×10⁶ ratio — the inverse signal of near-duplication,
    used to up-weight genuinely novel documents in mixture building. The
    shingle DF table is the same artifact the MinHash pipeline banded —
    here it is consumed exactly; shingles explode map-side from one
    3-way zip, and the DF join is an equi-join on the shingle hash space
    (at 100 TB: md5-prefix the join key, as text_contamination does)."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    n3 = F.greatest(F.size(F.col("ws")) - 2, F.lit(0))
    sh = (d.select("doc_id", ws.alias("ws"))
          .select("doc_id", F.explode(F.zip_with(
              F.slice("ws", 1, n3),
              F.zip_with(F.slice("ws", 2, n3), F.slice("ws", 3, n3),
                         lambda b, c: F.concat_ws(" ", b, c)),
              lambda a, bc: F.concat_ws(" ", a, bc))).alias("shingle"))
          .distinct()).persist()
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (sh.join(df, "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                 F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                 .cast("long").alias("n_unique"))
            .select("doc_id", "n_shingles", "n_unique",
                    F.expr("n_unique * 1000000L div n_shingles")
                    .cast("long").alias("novelty_e6"))
            .orderBy("doc_id"))


def _bloom_pos_sql(tag: str, expr: str, m: int = 256) -> str:
    return (f"CAST(CAST(concat('0x', substr(md5(concat('{tag}:42:', "
            f"{expr})), 1, 16)) AS UBIGINT) % {m} AS INTEGER)")


_BLOOM_SQL = f"""
WITH buyers AS (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  GROUP BY 1 HAVING count(*) >= 16
), bits AS (
  SELECT DISTINCT pos FROM (
    SELECT {_bloom_pos_sql('bloom0', 'CAST(user_id AS VARCHAR)')} AS pos
    FROM buyers
    UNION ALL
    SELECT {_bloom_pos_sql('bloom1', 'CAST(user_id AS VARCHAR)')} FROM buyers
    UNION ALL
    SELECT {_bloom_pos_sql('bloom2', 'CAST(user_id AS VARCHAR)')} FROM buyers)
), probe AS (
  SELECT user_id,
         {_bloom_pos_sql('bloom0', 'CAST(user_id AS VARCHAR)')} AS p0,
         {_bloom_pos_sql('bloom1', 'CAST(user_id AS VARCHAR)')} AS p1,
         {_bloom_pos_sql('bloom2', 'CAST(user_id AS VARCHAR)')} AS p2
  FROM (SELECT DISTINCT user_id FROM events)
)
SELECT probe.user_id,
       CAST(p0 IN (SELECT pos FROM bits)
            AND p1 IN (SELECT pos FROM bits)
            AND p2 IN (SELECT pos FROM bits) AS BIGINT) AS bloom_hit,
       CAST(probe.user_id IN (SELECT user_id FROM buyers) AS BIGINT)
         AS actual
FROM probe
ORDER BY user_id
"""


@register("sketch_bloom_prune", _BLOOM_SQL)
def sketch_bloom_prune(spark, sf_dir):
    """Bloom-filter membership pruning — the join-pushdown sketch: the
    heavy-buyer user set (>= 16 purchases) is folded into a 256-bit /
    3-hash Bloom filter
    (deliberately undersized for the gate corpus so false positives are
    OBSERVED, not hypothetical — size m ∝ set size in production)
    (positions = md5 buckets with decorrelated tags, so both engines build
    bit-identical filters), then every user probes it. bloom_hit=1,
    actual=0 rows are the measured false positives — the quantity that
    decides whether a runtime Bloom-pruned join is worth shipping. The bit
    set is data-independent-bounded (≤ m rows), so at 100 TB it
    broadcasts; the probe is map-side after that broadcast (here the
    membership checks stay as semi-join shapes the optimizer can reuse)."""
    from .operators.text_analysis import _hash_bucket
    e = _t(spark, sf_dir, "events")
    buyers = (e.filter(F.col("event_type") == "purchase")
              .groupBy("user_id").agg(F.count(F.lit(1)).alias("_n"))
              .filter(F.col("_n") >= 16).select("user_id"))
    pos_cols = [_hash_bucket(F.col("user_id"), 42, f"bloom{i}", 256)
                for i in range(3)]
    bits = buyers.select(F.explode(F.array(*pos_cols)).alias("pos")) \
        .distinct()
    probe = (e.select("user_id").distinct()
             .select("user_id",
                     *[pc.alias(f"p{i}") for i, pc in enumerate(pos_cols)]))
    for i in range(3):
        probe = probe.join(
            F.broadcast(bits.withColumnRenamed("pos", f"b{i}")),
            F.col(f"p{i}") == F.col(f"b{i}"), "left")
    hit = (F.col("b0").isNotNull() & F.col("b1").isNotNull()
           & F.col("b2").isNotNull())
    return (probe.join(buyers.withColumn("actual", F.lit(1)),
                       "user_id", "left")
            .select("user_id", hit.cast("long").alias("bloom_hit"),
                    F.coalesce("actual", F.lit(0)).cast("long")
                    .alias("actual"))
            .orderBy("user_id"))


_KMV_QUANT_SQL = """
WITH h AS (
  SELECT value,
         md5(concat('kmvq:42:', CAST(event_id AS VARCHAR))) AS hk
  FROM events
), sample AS (
  SELECT value FROM h ORDER BY hk LIMIT 128
)
SELECT
  (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY value)
   FROM events) AS exact_p50,
  (SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY value)
   FROM events) AS exact_p90,
  (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY value)
   FROM sample) AS est_p50,
  (SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY value)
   FROM sample) AS est_p90
"""


@register("sketch_kmv_quantiles", _KMV_QUANT_SQL)
def sketch_kmv_quantiles(spark, sf_dir):
    """Quantile estimation from a KMV hash-sample: the 128 rows with the
    smallest md5 keys are a uniform, DETERMINISTIC, mergeable sample (the
    k-minimum-values trick applied to rows instead of distinct values —
    union = keep the 128 smallest of both sides), and percentile_disc on
    the sample estimates the stream's quantiles. Unlike reservoir sampling
    the result is independent of arrival and partition order — the
    property that makes it exactly reproducible in the oracle. Values
    pass through untouched (percentile_disc selects, never interpolates),
    so no float arithmetic exists to diverge. Output: exact vs estimated
    p50/p90 side by side — the estimation error is the evidence the
    sketch is honest. Scale: the k-smallest selection is a per-partition
    top-k + single 128-row merge; the exact side exists only as the
    yardstick."""
    e = _t(spark, sf_dir, "events")
    hk = F.md5(F.concat(F.lit("kmvq:42:"), F.col("event_id").cast("string")))
    sample = (e.select("value", hk.alias("hk"))
              .orderBy("hk").limit(128))
    exact = e.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .alias("exact_p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)")
        .alias("exact_p90"))
    est = sample.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
        .alias("est_p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)")
        .alias("est_p90"))
    return exact.crossJoin(est)


_QUALITY_RANK_SQL = """
WITH w AS (
  SELECT doc_id, source,
         string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM documents
), wx AS (
  SELECT doc_id, unnest(ws) AS word FROM w
), wc AS (SELECT doc_id, word, count(*) AS c FROM wx GROUP BY 1, 2),
ttr AS (
  SELECT doc_id, count(*) * 1000000 // sum(c) AS ttr_e6 FROM wc GROUP BY 1
), sh AS (
  SELECT DISTINCT doc_id, concat(z[1], ' ', z[2], ' ', z[3]) AS shingle
  FROM (SELECT doc_id, unnest(list_zip(ws, ws[2:], ws[3:])) AS z FROM w)
  WHERE z[3] IS NOT NULL
), df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
nov AS (
  SELECT sh.doc_id,
         count(*) FILTER (WHERE df = 1) * 1000000 // count(*) AS novelty_e6
  FROM sh JOIN df ON sh.shingle = df.shingle GROUP BY 1
), scored AS (
  SELECT w.doc_id, w.source,
         CAST(ttr_e6 + coalesce(novelty_e6, 0) AS BIGINT) AS quality_e6
  FROM w JOIN ttr ON w.doc_id = ttr.doc_id
  LEFT JOIN nov ON w.doc_id = nov.doc_id
)
SELECT doc_id, source, quality_e6,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY quality_e6 DESC, doc_id) AS rnk
      FROM scored)
WHERE rnk <= 10
ORDER BY source, rnk
"""


@register("data_quality_rank", _QUALITY_RANK_SQL)
def data_quality_rank(spark, sf_dir):
    """Composite quality ranking — the curriculum/mixture selection step:
    each document scored by an integer composite (type-token ratio +
    3-gram novelty, both ×10⁶ — diversity AND uniqueness), then the top
    10 per source taken with a total order (score desc, doc_id). Shows
    score fusion + per-group top-k as one pipeline over the same exploded
    word/shingle artifacts the individual metrics use; at scale the
    per-source top-k is the salted two-phase cap (_salted_topk), here the
    rank window on a bounded group count."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    base = d.select("doc_id", "source", ws.alias("ws")).persist()
    wc = (base.select("doc_id", F.explode("ws").alias("word"))
          .groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c")))
    ttr = wc.groupBy("doc_id").agg(
        F.expr("count(1) * 1000000L div sum(c)").alias("ttr_e6"))
    n3 = F.greatest(F.size(F.col("ws")) - 2, F.lit(0))
    sh = (base.select("doc_id", F.explode(F.zip_with(
        F.slice("ws", 1, n3),
        F.zip_with(F.slice("ws", 2, n3), F.slice("ws", 3, n3),
                   lambda b, c: F.concat_ws(" ", b, c)),
        lambda a, bc: F.concat_ws(" ", a, bc))).alias("shingle"))
        .distinct())
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    nov = (sh.join(df, "shingle").groupBy("doc_id")
           .agg(F.expr("sum(if(df = 1, 1, 0)) * 1000000L div count(1)")
                .alias("novelty_e6")))
    scored = (base.select("doc_id", "source")
              .join(ttr, "doc_id")
              .join(nov, "doc_id", "left")
              .select("doc_id", "source",
                      (F.col("ttr_e6")
                       + F.coalesce("novelty_e6", F.lit(0)))
                      .cast("long").alias("quality_e6")))
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_e6"), "doc_id")
    return (scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 10)
            .orderBy("source", "rnk"))


_NODE2VEC_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), und AS (
  SELECT term_a AS u, term_b AS v FROM pairs
  UNION ALL SELECT term_b, term_a FROM pairs
), w AS (
  SELECT p.u AS prev, p.v AS cur, n.v AS next,
         CASE WHEN n.v = p.u THEN 1
              WHEN EXISTS (SELECT 1 FROM und e
                           WHERE e.u = p.u AND e.v = n.v) THEN 2
              ELSE 1 END AS w2
  FROM und p JOIN und n ON p.v = n.u
), tot AS (SELECT prev, cur, sum(w2) AS t FROM w GROUP BY 1, 2)
SELECT w.prev, w.cur, w.next,
       CAST(w2 AS BIGINT) AS w2,
       CAST(w2 * 1000000 // t AS BIGINT) AS p_e6
FROM w JOIN tot ON w.prev = tot.prev AND w.cur = tot.cur
ORDER BY w.prev, w.cur, w.next
"""


@register("kg_node2vec_probs_docs", _NODE2VEC_SQL)
def kg_node2vec_probs_docs(spark, sf_dir):
    """Second-order (node2vec, Grover & Leskovec KDD'16) walk-transition
    table over the co-occurrence KG: for every (prev → cur → next) step,
    the return/in-out-biased weight with p = q = 2 expressed as the
    INTEGER scale ×2 — return edges and exploration edges weigh 1,
    triangle-closing edges (next adjacent to prev) weigh 2 — and the
    row-normalized probability as an exact ×10⁶ ratio. This is the
    sampling table a distributed node2vec materializes BEFORE walking
    (the walk itself then needs no graph access — it reads this table),
    which is exactly how you run it at 10⁹ edges. The triangle test is a
    left join against the edge list, not an EXISTS subquery, so the plan
    is three self-equi-joins on a vocabulary-bounded table."""
    e = _cooc_edges(spark, sf_dir)
    und = (e.select(F.col("term_a").alias("u"), F.col("term_b").alias("v"))
           .unionByName(e.select(F.col("term_b").alias("u"),
                                 F.col("term_a").alias("v")))).persist()
    p = und.select(F.col("u").alias("prev"), F.col("v").alias("cur"))
    n = und.select(F.col("u").alias("ncur"), F.col("v").alias("next"))
    tri = und.select(F.col("u").alias("tp"), F.col("v").alias("tn"),
                     F.lit(1).alias("is_tri"))
    w = (p.join(n, F.col("cur") == F.col("ncur"))
         .join(tri, (F.col("prev") == F.col("tp"))
               & (F.col("next") == F.col("tn")), "left")
         .select("prev", "cur", "next",
                 F.when(F.col("next") == F.col("prev"), 1)
                 .when(F.col("is_tri").isNotNull(), 2)
                 .otherwise(1).cast("long").alias("w2")))
    tot = w.groupBy(F.col("prev").alias("p2"), F.col("cur").alias("c2")) \
        .agg(F.sum("w2").alias("t"))
    return (w.join(tot, (F.col("prev") == F.col("p2"))
                   & (F.col("cur") == F.col("c2")))
            .select("prev", "cur", "next", "w2",
                    F.expr("w2 * 1000000L div t").cast("long").alias("p_e6"))
            .orderBy("prev", "cur", "next"))


_FUZZY_MATCH_SQL = f"""
WITH vocab AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT lex.term, vocab.word,
       CAST(levenshtein(vocab.word, lex.term) AS BIGINT) AS dist
FROM vocab, {kg_docs.lexicon_values_sql()}
WHERE levenshtein(vocab.word, lex.term) <= 2
ORDER BY term, word
"""


@register("kg_fuzzy_term_match", _FUZZY_MATCH_SQL)
def kg_fuzzy_term_match(spark, sf_dir):
    """Edit-distance entity-linking candidates: every corpus vocabulary
    word within Levenshtein distance 2 of a lexicon term (distance 0 =
    the exact mention, 1-2 = typo/inflection candidates the fuzzy linker
    scores). The distance runs on the DISTINCT VOCABULARY cross the tiny
    broadcast lexicon — never on the corpus rows — which is the only
    shape that survives 100 TB (vocabulary grows ~Heaps-sublinearly;
    the reference's fuzzy resolver rates pairs the same way,
    entity_resolver.py). Both engines implement the standard Levenshtein
    DP, so the distances are integers that hash exactly."""
    d = _t(spark, sf_dir, "documents")
    vocab = (d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
             .distinct())
    lex = F.broadcast(kg_docs.lexicon_df(spark))
    return (vocab.join(lex)
            .filter(F.levenshtein(F.col("word"), F.col("term")) <= 2)
            .select("term", "word",
                    F.levenshtein(F.col("word"), F.col("term"))
                    .cast("long").alias("dist"))
            .orderBy("term", "word"))


_PHRASE_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), bi AS (
  SELECT doc_id, unnest(list_zip(ws, ws[2:])) AS z FROM w
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM bi
WHERE z[1] = 'fast' AND z[2] = 'table'
GROUP BY doc_id
ORDER BY doc_id
"""


@register("search_phrase", _PHRASE_SQL)
def search_phrase(spark, sf_dir):
    """Positional-index phrase search: documents containing the exact
    consecutive phrase 'fast table', with occurrence counts. The Spark
    side builds the POSITIONAL POSTINGS list — (term, doc, pos) via
    posexplode — and intersects postings['fast'] with postings['table']
    on doc & pos+1, which is how a real inverted index answers phrase
    queries without touching the documents (search_bm25's index grows a
    position column and phrase predicates become self-joins). The oracle
    scans bigrams directly — two different plans, same semantics, one
    hash. At scale the postings join is an equi-join on (md5-bucketed)
    term+doc; only the two query terms' postings are ever read."""
    d = _t(spark, sf_dir, "documents")
    post = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "term"))
    a = post.filter(F.col("term") == "fast") \
        .select("doc_id", F.col("pos").alias("pa"))
    b = post.filter(F.col("term") == "table") \
        .select(F.col("doc_id").alias("db"), F.col("pos").alias("pb"))
    return (a.join(b, (F.col("doc_id") == F.col("db"))
                   & (F.col("pb") == F.col("pa") + 1))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
            .orderBy("doc_id"))


_EMB_PROFILE_SQL = """
WITH ix AS (
  SELECT embedding, unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
), x AS (
  SELECT i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v_e6
  FROM ix
)
SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v_e6) // count(*) AS BIGINT) AS mean_e6,
       CAST(min(v_e6) AS BIGINT) AS min_e6,
       CAST(max(v_e6) AS BIGINT) AS max_e6
FROM x GROUP BY dim ORDER BY dim
"""


@register("ann_embedding_profile", _EMB_PROFILE_SQL)
def ann_embedding_profile(spark, sf_dir):
    """Per-dimension embedding profile (the feature-store health check
    that catches dead dimensions and scale drift before they poison ANN
    recall): each component fixed-pointed to ×10⁶ longs — the SAME double
    multiply+floor in both engines, so the stats are exact integers — then
    count/mean/min/max per dimension. posexplode keys the shuffle by a
    64-value dimension space; sums are map-side-combinable, so the profile
    costs one linear scan at any corpus size."""
    em = _t(spark, sf_dir, "embeddings")
    x = em.select(F.posexplode("embedding").alias("dim", "v")) \
        .select("dim", F.floor(F.col("v").cast("double") * 1_000_000 + F.lit(0.5))
                .cast("long").alias("v_e6"))
    return (x.groupBy("dim")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.expr("sum(v_e6) div count(1)").cast("long")
                 .alias("mean_e6"),
                 F.min("v_e6").cast("long").alias("min_e6"),
                 F.max("v_e6").cast("long").alias("max_e6"))
            .select(F.col("dim").cast("long").alias("dim"), "n", "mean_e6",
                    "min_e6", "max_e6")
            .orderBy("dim"))


_BLOCKING_SQL = """
WITH b AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
)
SELECT lang, source, CAST(n AS BIGINT) AS block_size,
       CAST(n * (n - 1) // 2 AS BIGINT) AS candidate_pairs,
       CAST(n * (n - 1) * 500000 // (SELECT sum(n * (n - 1)) FROM b)
            AS BIGINT) AS pair_share_e6
FROM b
ORDER BY lang, source
"""


@register("dedup_blocking_stats", _BLOCKING_SQL)
def dedup_blocking_stats(spark, sf_dir):
    """Blocking-key diagnostics for entity resolution / dedup: per
    (lang, source) block, the size, the all-pairs candidate count
    n·(n−1)/2 a naive matcher would score, and each block's exact ×10⁶
    share of the total pair budget — the report that tells you WHICH
    block is the quadratic straggler before you run the matcher (the
    prefix-filter fix in dedup.py exists because of exactly this
    shape). One tiny aggregate + a 1-row total broadcast."""
    d = _t(spark, sf_dir, "documents")
    b = (d.groupBy("lang", "source")
         .agg(F.count(F.lit(1)).alias("n"))).persist()
    tot = b.agg(F.sum(F.col("n") * (F.col("n") - 1)).alias("tp"))
    return (b.crossJoin(F.broadcast(tot))
            .select("lang", "source",
                    F.col("n").cast("long").alias("block_size"),
                    F.expr("n * (n - 1) div 2").cast("long")
                    .alias("candidate_pairs"),
                    F.expr("n * (n - 1) * 500000L div tp").cast("long")
                    .alias("pair_share_e6"))
            .orderBy("lang", "source"))


_TWOHOP_CONF_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), n AS (
  SELECT term, count(*) AS n FROM m GROUP BY term
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 330
), e AS (
  SELECT term_a, term_b,
         round(least(1.0, CAST(common AS DOUBLE) / 10.0), 6) AS conf
  FROM pairs
), und AS (
  SELECT term_a AS u, term_b AS v, conf FROM e
  UNION ALL SELECT term_b, term_a, conf FROM e
)
SELECT a.u AS src, b.v AS dst,
       CAST(count(*) AS BIGINT) AS n_paths,
       max(a.conf * b.conf) AS best_conf
FROM und a JOIN und b ON a.v = b.u
WHERE a.u <> b.v
  AND NOT EXISTS (SELECT 1 FROM und d
                  WHERE d.u = a.u AND d.v = b.v)
GROUP BY a.u, b.v
ORDER BY src, dst
"""


@register("kg_2hop_confidence", _TWOHOP_CONF_SQL)
def kg_2hop_confidence(spark, sf_dir):
    """2-hop inference candidates with path confidence: for every pair of
    terms NOT directly connected (on the sparse >=330-co-occurrence
    graph, the same projection kg_components_docs uses), the number of
    length-2 paths between
    them and the best path confidence (max over paths of the product of
    the two edge confidences) — the link-prediction surface a KG-completion
    pass ranks. max-of-products is aggregation-order-free (unlike a sum of
    floats), and each product is one IEEE multiply of two already-rounded
    doubles — identical in both engines. Plan: one triangle-style
    self-join on the vocabulary projection + a left-anti against the edge
    list (the oracle states it as NOT EXISTS; the engine uses the
    decorrelated anti-join)."""
    e = _cooc_edges(spark, sf_dir, min_cooc=330).select(
        "term_a", "term_b",
        F.round(F.least(F.lit(1.0), F.col("common") / F.lit(10.0)), 6)
        .alias("conf"))
    und = (e.select(F.col("term_a").alias("u"), F.col("term_b").alias("v"),
                    "conf")
           .unionByName(e.select(F.col("term_b").alias("u"),
                                 F.col("term_a").alias("v"), "conf"))
           ).persist()
    a = und.select(F.col("u").alias("src"), F.col("v").alias("mid"),
                   F.col("conf").alias("c1"))
    b = und.select(F.col("u").alias("bmid"), F.col("v").alias("dst"),
                   F.col("conf").alias("c2"))
    direct = und.select(F.col("u").alias("du"), F.col("v").alias("dv"))
    return (a.join(b, F.col("mid") == F.col("bmid"))
            .filter(F.col("src") != F.col("dst"))
            .join(direct, (F.col("src") == F.col("du"))
                  & (F.col("dst") == F.col("dv")), "left_anti")
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("long").alias("n_paths"),
                 F.max(F.col("c1") * F.col("c2")).alias("best_conf"))
            .orderBy("src", "dst"))


_HELDOUT_LM_SQL = """
WITH split AS (
  SELECT doc_id, text,
         CASE WHEN CAST(CAST(concat('0x', substr(md5(concat('split:42:',
                CAST(doc_id AS VARCHAR))), 1, 16)) AS UBIGINT) % 10000
                AS INTEGER) < 9000
              THEN 'train' ELSE 'heldout' END AS split
  FROM documents
), words AS (
  SELECT doc_id, split,
         string_split_regex(trim(lower(text)), '\\s+') AS ws
  FROM split
), bi AS (
  SELECT doc_id, split, z[1] AS w1, z[2] AS w2
  FROM (SELECT doc_id, split, unnest(list_zip(ws, ws[2:])) AS z FROM words)
  WHERE z[2] IS NOT NULL
), c12 AS (SELECT w1, w2, count(*) AS c FROM bi
           WHERE split = 'train' GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c FROM bi WHERE split = 'train' GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS n FROM (
  SELECT w1 AS w FROM bi WHERE split = 'train'
  UNION SELECT w2 FROM bi WHERE split = 'train'))
SELECT bi.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum((coalesce(c12.c, 0) + 1) * 1000000000
                // (coalesce(c1.c, 0) + v.n)) AS BIGINT) AS sum_score_e9,
       CAST(sum((coalesce(c12.c, 0) + 1) * 1000000000
                // (coalesce(c1.c, 0) + v.n)) // count(*) AS BIGINT)
         AS avg_score_e9
FROM bi
LEFT JOIN c12 ON bi.w1 = c12.w1 AND bi.w2 = c12.w2
LEFT JOIN c1 ON bi.w1 = c1.w1
CROSS JOIN v
WHERE bi.split = 'heldout'
GROUP BY bi.doc_id
ORDER BY doc_id
"""


@register("text_heldout_lm_score", _HELDOUT_LM_SQL)
def text_heldout_lm_score(spark, sf_dir):
    """Held-out LM evaluation — the honest version of text_doc_lm_score:
    bigram counts come from the TRAIN split only (the md5 hash_split),
    and the 10% held-out documents are scored under that model, with
    unseen bigrams/contexts falling back to the add-one floor
    (coalesce 0) — the train/eval separation a real perplexity filter
    must respect or it leaks. Same floor-before-sum integer discipline;
    left joins instead of inner because held-out n-grams may be unseen."""
    d = _t(spark, sf_dir, "documents")
    from .operators.text_analysis import hash_split
    sp = hash_split(d).withColumn(
        "split", F.when(F.col("split") == "train", "train")
        .otherwise("heldout"))
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    bi = (sp.select("doc_id", "split", ws.alias("ws"))
          .select("doc_id", "split", F.explode(F.zip_with(
              F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
              F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
              lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
              .alias("p"))
          .select("doc_id", "split", "p.w1", "p.w2")).persist()
    tr = bi.filter(F.col("split") == "train")
    c12 = tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = tr.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab_n = (tr.select(F.col("w1").alias("w"))
               .union(tr.select(F.col("w2").alias("w")))
               .distinct().agg(F.count(F.lit(1)).alias("v")))
    score = F.expr(
        "((coalesce(c12, 0) + 1) * 1000000000L) div (coalesce(c1, 0) + v)")
    return (bi.filter(F.col("split") == "heldout")
            .join(c12, ["w1", "w2"], "left")
            .join(c1, "w1", "left")
            .crossJoin(F.broadcast(vocab_n))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.sum(score).cast("long").alias("sum_score_e9"))
            .select("doc_id", "n_bigrams", "sum_score_e9",
                    F.expr("sum_score_e9 div n_bigrams").cast("long")
                    .alias("avg_score_e9"))
            .orderBy("doc_id"))


_SRCSIM_SQL = """
WITH w AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents
), c AS (
  SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2
), norms AS (
  SELECT source, sum(CAST(n AS HUGEINT) * n) AS n2 FROM c GROUP BY 1
), dots AS (
  SELECT a.source AS src_a, b.source AS src_b,
         sum(CAST(a.n AS HUGEINT) * b.n) AS dot
  FROM c a JOIN c b ON a.word = b.word AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, CAST(dot AS BIGINT) AS dot,
       CAST(dot * dot * 1000000 // (na.n2 * nb.n2) AS BIGINT) AS cos2_e6
FROM dots
JOIN norms na ON na.source = src_a
JOIN norms nb ON nb.source = src_b
ORDER BY src_a, src_b
"""


@register("text_source_similarity", _SRCSIM_SQL)
def text_source_similarity(spark, sf_dir):
    """Pairwise similarity between SOURCES' unigram distributions — the
    corpus-drift / domain-overlap measure mixture builders read before
    setting sampling weights. Cosine² is reported instead of cosine:
    dot²·10⁶ div (‖a‖²·‖b‖²) needs no square root, so the whole measure
    stays in exact integer arithmetic (cos² is monotone in cos for
    non-negative counts — same ranking), carried in decimal(38,0)/HUGEINT
    because dot² overflows a BIGINT beyond ~10⁹·10⁹ count mass. The count vectors live on the
    word-keyed join (vocabulary-bounded); sources² pairs are tiny."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    c = (d.select("source", F.explode(ws).alias("word"))
         .groupBy("source", "word").agg(F.count(F.lit(1)).alias("n"))
         ).persist()
    norms = c.groupBy("source").agg(
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).alias("n2"))
    a = c.select(F.col("source").alias("src_a"), "word",
                 F.col("n").alias("na"))
    b = c.select(F.col("source").alias("src_b"), "word",
                 F.col("n").alias("nb"))
    dots = (a.join(b, "word")
            .filter(F.col("src_a") < F.col("src_b"))
            .groupBy("src_a", "src_b")
            .agg(F.sum(F.col("na").cast("decimal(38,0)") * F.col("nb"))
                 .alias("dot")))
    return (dots.join(F.broadcast(norms.withColumnRenamed("source", "sa")
                                  .withColumnRenamed("n2", "na2")),
                      F.col("src_a") == F.col("sa"))
            .join(F.broadcast(norms.withColumnRenamed("source", "sb")
                              .withColumnRenamed("n2", "nb2")),
                  F.col("src_b") == F.col("sb"))
            .select("src_a", "src_b", F.col("dot").cast("long").alias("dot"),
                    F.expr("(dot * dot * 1000000) div (na2 * nb2)")
                    .cast("long").alias("cos2_e6"))
            .orderBy("src_a", "src_b"))


_CORPUS_CARD_SQL = """
WITH w AS (
  SELECT doc_id, source, lang,
         string_split_regex(trim(lower(text)), '\\s+') AS ws,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), types AS (
  SELECT count(DISTINCT word) AS n_types
  FROM (SELECT unnest(ws) AS word FROM w)
), dups AS (
  SELECT count(*) AS n_groups, sum(cnt - 1) AS n_redundant
  FROM (SELECT fp, count(*) AS cnt FROM w GROUP BY fp)
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(ws)) AS BIGINT) AS n_tokens,
       CAST((SELECT n_types FROM types) AS BIGINT) AS n_types,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST((SELECT n_groups FROM dups) AS BIGINT) AS exact_dup_groups,
       CAST((SELECT n_redundant FROM dups) * 1000000 // count(*) AS BIGINT)
         AS dup_rate_e6,
       CAST(min(len(ws)) AS BIGINT) AS min_tokens,
       CAST(max(len(ws)) AS BIGINT) AS max_tokens
FROM w
"""


@register("data_corpus_card", _CORPUS_CARD_SQL)
def data_corpus_card(spark, sf_dir):
    """The one-row dataset card: corpus size, token mass, vocabulary,
    source/language spread, exact-duplicate groups and redundancy rate,
    token-length extremes — the header block of a training-data datasheet
    (Datasheets for Datasets, Gebru et al.), computed from the same
    fingerprint/tokenization primitives the dedup and stats queries use
    so the card can never disagree with the pipeline. One pass + tiny
    aggregates; every number is an exact integer."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                r"\s+", " "))
    w = d.select("doc_id", "source", "lang", ws.alias("ws"),
                 fp.alias("fp")).persist()
    types = (w.select(F.explode("ws").alias("word"))
             .agg(F.countDistinct("word").alias("n_types")))
    dups = (w.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum(F.col("cnt") - 1).alias("n_redundant")))
    base = w.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("ws")).cast("long").alias("n_tokens"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.min(F.size("ws")).cast("long").alias("min_tokens"),
        F.max(F.size("ws")).cast("long").alias("max_tokens"))
    return (base.crossJoin(F.broadcast(types))
            .crossJoin(F.broadcast(dups))
            .select("n_docs", "n_tokens",
                    F.col("n_types").cast("long").alias("n_types"),
                    "n_sources", "n_langs",
                    F.col("n_groups").cast("long").alias("exact_dup_groups"),
                    F.expr("n_redundant * 1000000L div n_docs").cast("long")
                    .alias("dup_rate_e6"),
                    "min_tokens", "max_tokens"))


_UNIGRAM_DRIFT_SQL = """
WITH w AS (
  SELECT lang, doc_id % 2 AS half,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents
), c AS (
  SELECT lang, word,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS cb
  FROM w GROUP BY 1, 2
), n AS (
  SELECT lang, sum(ca) AS na, sum(cb) AS nb FROM c GROUP BY 1
)
SELECT c.lang, CAST(count(*) AS BIGINT) AS n_words,
       CAST(n.na AS BIGINT) AS tokens_a, CAST(n.nb AS BIGINT) AS tokens_b,
       CAST(sum(abs(ca * n.nb - cb * n.na)) * 1000000
            // (2 * n.na * n.nb) AS BIGINT) AS tv_e6
FROM c JOIN n ON c.lang = n.lang
WHERE n.na > 0 AND n.nb > 0
GROUP BY c.lang, n.na, n.nb ORDER BY c.lang
"""


@register("text_unigram_drift", _UNIGRAM_DRIFT_SQL)
def text_unigram_drift(spark, sf_dir):
    """Distribution-shift monitor: total-variation distance between the
    unigram distributions of two deterministic corpus halves (doc_id
    parity), per language — the drift alarm a training-data pipeline
    fires before a new crawl snapshot changes the mixture. TV as the
    exact rational Σ|c_a·N_b − c_b·N_a| / (2·N_a·N_b) in
    decimal(38,0)/HUGEINT — 0 for identical distributions, 10⁶ for
    disjoint vocabularies — so the hash never sees a float. The count
    matrix is vocabulary×lang-keyed (bounded by the corpus vocabulary,
    not the token mass); the totals join is a broadcast. Languages with
    an empty half are excluded in both engines."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("lang", (F.col("doc_id") % 2).alias("half"),
                 F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                 .alias("word"))
    c = w.groupBy("lang", "word").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("decimal(38,0)").alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("decimal(38,0)").alias("cb"))
    n = c.groupBy("lang").agg(F.sum("ca").alias("na"),
                              F.sum("cb").alias("nb"))
    return (c.join(F.broadcast(n), "lang")
            .filter((F.col("na") > 0) & (F.col("nb") > 0))
            .groupBy("lang", "na", "nb")
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum(F.abs(F.col("ca") * F.col("nb")
                             - F.col("cb") * F.col("na"))).alias("sad"))
            .select("lang", "n_words",
                    F.col("na").cast("long").alias("tokens_a"),
                    F.col("nb").cast("long").alias("tokens_b"),
                    F.expr("CAST(sad * 1000000 div (2 * na * nb)"
                           " AS BIGINT)").alias("tv_e6"))
            .orderBy("lang"))


_KMEANS_ASSIGN_SQL = """
WITH ix AS (
  SELECT vec_id, embedding,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), v AS (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
              AS HUGEINT) AS q
  FROM ix
), c AS (
  SELECT vec_id AS cid, i, q AS cq FROM v WHERE vec_id < 8
), d AS (
  SELECT v.vec_id, c.cid, sum((v.q - c.cq) * (v.q - c.cq)) AS d2
  FROM v JOIN c USING (i) GROUP BY 1, 2
), a AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM d
)
SELECT CAST(cid AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS size,
       CAST(sum(d2) // (count(*) * 1000000) AS BIGINT) AS msd_e6
FROM a WHERE rn = 1 GROUP BY cid ORDER BY cluster
"""


@register("ann_kmeans_assign", _KMEANS_ASSIGN_SQL)
def ann_kmeans_assign(spark, sf_dir):
    """One Lloyd assignment step of k-means over the embedding table —
    the building block of distributed k-means (and of IVF list
    training, similarity.py's ivf_topk). Centroids are the k=8
    smallest-id vectors (deterministic seed); every vector goes to its
    nearest centroid by squared L2 over e6-QUANTIZED integer coordinates
    (same float→double→floor in both engines), so distances, argmin
    tie-breaks (then smallest centroid id) and per-cluster mean squared
    distance are exact integer arithmetic — order-independent, no
    cross-engine float summation. Spark side stays array-shaped: the
    corpus never explodes — zip_with/aggregate compute each distance
    inside the row against the BROADCAST 8-row centroid table (the
    oracle unnests because DuckDB lacks positional zip; at scale the
    array form is the one that matters). Cost: |corpus|·k narrow rows,
    one k-key aggregate."""
    embs = _t(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5))
        .cast("decimal(38,0)"))
    v = embs.select("vec_id", qv.alias("q"))
    cents = (v.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq")))
    d2 = (v.crossJoin(F.broadcast(cents))
          .select("vec_id", "cid",
                  F.aggregate(
                      F.zip_with("q", "cq", lambda a, b: (a - b) * (a - b)),
                      F.lit(0).cast("decimal(38,0)"),
                      lambda acc, x: acc + x).alias("d2")))
    asg = (d2.groupBy("vec_id")
           .agg(F.min(F.struct(F.col("d2"), F.col("cid"))).alias("m"))
           .select(F.col("m.cid").alias("cluster"), F.col("m.d2").alias("d2")))
    return (asg.groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("size"),
                 F.sum("d2").alias("sd2"))
            .select(F.col("cluster").cast("long").alias("cluster"), "size",
                    F.expr("CAST(sd2 div (size * 1000000) AS BIGINT)")
                    .alias("msd_e6"))
            .orderBy("cluster"))


_KMEANS_UPDATE_SQL = """
WITH ix AS (
  SELECT vec_id, embedding,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), v AS (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
              AS HUGEINT) AS q
  FROM ix
), c AS (
  SELECT vec_id AS cid, i, q AS cq FROM v WHERE vec_id < 8
), d AS (
  SELECT v.vec_id, c.cid, sum((v.q - c.cq) * (v.q - c.cq)) AS d2
  FROM v JOIN c USING (i) GROUP BY 1, 2
), mem AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d) WHERE rn = 1
), sz AS (
  SELECT cid, CAST(count(*) AS HUGEINT) AS size FROM mem GROUP BY 1
), nc AS (
  SELECT m.cid, v.i, sum(v.q) // max(sz.size) AS nq
  FROM mem m JOIN v ON v.vec_id = m.vec_id JOIN sz ON sz.cid = m.cid
  GROUP BY m.cid, v.i
)
SELECT CAST(nc.cid AS BIGINT) AS cluster, CAST(max(sz.size) AS BIGINT) AS size,
       CAST(sum((nc.nq - c.cq) * (nc.nq - c.cq)) AS BIGINT) AS shift_sq_e12
FROM nc JOIN c ON c.cid = nc.cid AND c.i = nc.i
JOIN sz ON sz.cid = nc.cid
GROUP BY nc.cid ORDER BY cluster
"""


@register("ann_kmeans_update", _KMEANS_UPDATE_SQL)
def ann_kmeans_update(spark, sf_dir):
    """The k-means centroid UPDATE step — together with ann_kmeans_assign
    this is one full Lloyd iteration, the loop body of distributed
    k-means / IVF training. Assignment re-derived over the e6-quantized
    integer coordinates (bit-identical to ann_kmeans_assign), then the
    new centroid's dim means as truncating integer division Σq div size
    (identical `div`/`//` semantics for the signed sums), and the
    per-cluster squared L2 shift between seed and updated centroid —
    the convergence signal a driver loop would test. The update is the
    (cluster,dim)-keyed aggregate distributed k-means actually runs:
    |corpus|·d narrow rows map-side-combined into k·d cells; shift math
    joins two k·d-row tables. Exact integers end-to-end."""
    embs = _t(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5))
        .cast("decimal(38,0)"))
    v = embs.select("vec_id", qv.alias("q"))
    cents = (v.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq")))
    d2 = (v.crossJoin(F.broadcast(cents))
          .select("vec_id", "cid",
                  F.aggregate(
                      F.zip_with("q", "cq", lambda a, b: (a - b) * (a - b)),
                      F.lit(0).cast("decimal(38,0)"),
                      lambda acc, x: acc + x).alias("d2")))
    mem = (d2.groupBy("vec_id")
           .agg(F.min(F.struct(F.col("d2"), F.col("cid"))).alias("m"))
           .select("vec_id", F.col("m.cid").alias("cluster")))
    pd_ = (mem.join(v, "vec_id")
           .select("cluster", F.posexplode("q").alias("i", "qd")))
    sz = mem.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("size"))
    nc = (pd_.groupBy("cluster", "i").agg(F.sum("qd").alias("s"))
          .join(F.broadcast(sz), "cluster")
          .select("cluster", "i", F.expr("s div size").alias("nq")))
    cd = cents.select("cid", F.posexplode("cq").alias("i", "cq"))
    return (nc.join(F.broadcast(cd),
                    (nc["cluster"] == cd["cid"]) & (nc["i"] == cd["i"]))
            .groupBy("cluster")
            .agg(F.sum((F.col("nq") - F.col("cq"))
                       * (F.col("nq") - F.col("cq"))).alias("sh"))
            .join(F.broadcast(sz), "cluster")
            .select(F.col("cluster").cast("long").alias("cluster"),
                    F.col("size").cast("long").alias("size"),
                    F.col("sh").cast("long").alias("shift_sq_e12"))
            .orderBy("cluster"))


_SENTENCE_PROFILE_SQL = """
WITH s AS (
  SELECT lang,
         len(list_filter(string_split_regex(trim(text), '[.!?]+\\s+'),
                         x -> length(x) > 0)) AS n_sent,
         len(string_split_regex(trim(lower(text)), '\\s+')) AS n_words
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sent) AS BIGINT) AS n_sentences,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(CAST(sum(n_words) AS HUGEINT) * 100
            // sum(n_sent) AS BIGINT) AS words_per_sentence_e2
FROM s GROUP BY 1 ORDER BY lang
"""


@register("text_sentence_profile", _SENTENCE_PROFILE_SQL)
def text_sentence_profile(spark, sf_dir):
    """Per-language sentence-length profile — mean words per sentence is
    the readability / fragment-detection feature quality filters gate on
    (Gopher's 'no terminal punctuation' family). The sentence splitter
    is the RE2-SAFE '[.!?]+\\s+' (no lookbehind — DuckDB's RE2 has
    none, so the regex is chosen to mean the same thing in Java regex
    and RE2), empty segments dropped in both engines; words use the
    corpus-wide whitespace tokenization every text_* query shares.
    Counts and the e2 ratio are exact integers; one narrow map + 5-key
    aggregate, no shuffle beyond it."""
    d = _t(spark, sf_dir, "documents")
    sents = F.size(F.filter(
        F.split(F.trim(F.col("text")), r"[.!?]+\s+"),
        lambda x: F.length(x) > 0))
    words = F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    s = d.select("lang", sents.alias("n_sent"), words.alias("n_words"))
    return (s.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_sent").cast("decimal(38,0)").alias("ns"),
                 F.sum("n_words").cast("decimal(38,0)").alias("nw"))
            .select("lang", "n_docs",
                    F.col("ns").cast("long").alias("n_sentences"),
                    F.col("nw").cast("long").alias("n_words"),
                    F.expr("CAST(nw * 100 div ns AS BIGINT)")
                    .alias("words_per_sentence_e2"))
            .orderBy("lang"))


_SILHOUETTE_SQL = """
WITH ix AS (
  SELECT vec_id, embedding,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), v AS (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
              AS HUGEINT) AS q
  FROM ix
), c AS (
  SELECT vec_id AS cid, i, q AS cq FROM v WHERE vec_id < 8
), d AS (
  SELECT v.vec_id, c.cid, sum((v.q - c.cq) * (v.q - c.cq)) AS d2
  FROM v JOIN c USING (i) GROUP BY 1, 2
), r AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM d
), m AS (
  SELECT a.vec_id, a.cid AS cluster,
         CASE WHEN b.d2 = 0 THEN 0
              ELSE (b.d2 - a.d2) * 1000000 // b.d2 END AS margin
  FROM r a JOIN r b ON b.vec_id = a.vec_id AND b.rn = 2
  WHERE a.rn = 1
)
SELECT CAST(cluster AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(margin) // count(*) AS BIGINT) AS mean_margin_e6,
       CAST(min(margin) AS BIGINT) AS min_margin_e6
FROM m GROUP BY 1 ORDER BY cluster
"""


@register("ann_silhouette_simplified", _SILHOUETTE_SQL)
def ann_silhouette_simplified(spark, sf_dir):
    """Simplified (centroid-based) silhouette — the cluster-quality audit
    run after every k-means fit, linear instead of O(n²) because a(x)
    and b(x) use centroid distances: per point, a² = squared distance
    to its own (nearest) centroid, b² = to the runner-up, and the
    separation margin (b²−a²)·1e6 div b² ∈ [0,1e6] (0 = on the decision
    boundary, 1e6 = perfectly separated). Same e6-quantized integer
    coordinates as ann_kmeans_assign; per-cluster mean and worst margin.
    Broadcast k centroids against the corpus — no shuffle until the
    k-row aggregate; rank tie-break (d2, cid) pinned in both engines."""
    embs = _t(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5))
        .cast("decimal(38,0)"))
    v = embs.select("vec_id", qv.alias("q"))
    cents = (v.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq")))
    d2 = (v.crossJoin(F.broadcast(cents))
          .select("vec_id", "cid",
                  F.aggregate(
                      F.zip_with("q", "cq", lambda a, b: (a - b) * (a - b)),
                      F.lit(0).cast("decimal(38,0)"),
                      lambda acc, x: acc + x).alias("d2")))
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    r = (d2.select("vec_id", "cid", "d2",
                   F.row_number().over(w).alias("rn"))
         .filter(F.col("rn") <= 2))
    a = (r.filter(F.col("rn") == 1)
         .select("vec_id", F.col("cid").alias("cluster"),
                 F.col("d2").alias("a2")))
    b = r.filter(F.col("rn") == 2).select("vec_id", F.col("d2").alias("b2"))
    m = (a.join(b, "vec_id")
         .select("cluster",
                 F.when(F.col("b2") == 0, F.lit(0).cast("decimal(38,0)"))
                 .otherwise(F.expr("(b2 - a2) * 1000000 div b2"))
                 .alias("margin")))
    return (m.groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nn"),
                 F.sum("margin").alias("sm"),
                 F.min("margin").cast("long").alias("min_margin_e6"))
            .select(F.col("cluster").cast("long").alias("cluster"),
                    F.col("nn").cast("long").alias("n"),
                    F.expr("CAST(sm div nn AS BIGINT)")
                    .alias("mean_margin_e6"), "min_margin_e6")
            .orderBy("cluster"))


_ZIPF_SQL = """
WITH w AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT term, CAST(count(*) AS HUGEINT) AS f FROM w GROUP BY 1
), tot AS (SELECT sum(f) AS s FROM tf),
top AS (
  SELECT term, f, row_number() OVER (ORDER BY f DESC, term) AS rn
  FROM tf ORDER BY f DESC, term LIMIT 100
)
SELECT CAST(rn AS BIGINT) AS rank, term, CAST(f AS BIGINT) AS freq,
       CAST(rn * f * 1000000 // (SELECT s FROM tot) AS BIGINT)
         AS zipf_c_e6
FROM top ORDER BY rank
"""


@register("text_zipf_profile", _ZIPF_SQL)
def text_zipf_profile(spark, sf_dir):
    """Zipf's-law profile of the corpus: top-100 terms with rank·freq/N
    as exact e6 fixed-point — under Zipf, rank×frequency is roughly
    constant, so the zipf_c_e6 column flattening out IS the power-law
    check corpus QA runs (a bent curve flags boilerplate flooding or a
    synthetic vocabulary). Term frequencies are one map-side-combined
    aggregate; the top-100 is a distributed TakeOrdered (orderBy+limit,
    deterministic (freq desc, term) tie-break), and the rank window
    runs over those 100 rows only — never a global sort of the
    vocabulary."""
    d = _t(spark, sf_dir, "documents")
    tf = (d.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                   .alias("term"))
          .groupBy("term")
          .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("f")))
    tot = tf.agg(F.sum("f").alias("s"))
    top = tf.orderBy(F.col("f").desc(), "term").limit(100)
    w = Window.orderBy(F.col("f").desc(), "term")
    return (top.select(F.row_number().over(w).alias("rank"), "term", "f")
            .crossJoin(F.broadcast(tot))
            .select(F.col("rank").cast("long").alias("rank"), "term",
                    F.col("f").cast("long").alias("freq"),
                    F.expr("CAST(rank * f * 1000000 div s AS BIGINT)")
                    .alias("zipf_c_e6"))
            .orderBy("rank"))


_HAPAX_SQL = """
WITH w AS (
  SELECT source,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
), wf AS (
  SELECT source, term, CAST(count(*) AS HUGEINT) AS f
  FROM w GROUP BY 1, 2
)
SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(f) AS BIGINT) AS tokens,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS hapax_ratio_e6
FROM wf GROUP BY 1 ORDER BY source
"""


@register("text_hapax_ratio", _HAPAX_SQL)
def text_hapax_ratio(spark, sf_dir):
    """Hapax-legomena ratio per source: share of the vocabulary seen
    exactly once (e6 fixed-point) — high hapax = productive natural
    text or OCR noise, low hapax = templated/boilerplate content, the
    classic corpus-linguistics complement to type-token diversity
    (text_lexical_diversity). Two combinable aggregates on the
    (source, term) key — the same shuffle a per-source vocabulary
    build already pays; counts exact integers throughout."""
    d = _t(spark, sf_dir, "documents")
    wf = (d.select("source",
                   F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                   .alias("term"))
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("f")))
    hap = F.sum(F.when(F.col("f") == 1, 1).otherwise(0)) \
        .cast("decimal(38,0)")
    return (wf.groupBy("source")
            .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("v"),
                 F.sum("f").cast("long").alias("tokens"),
                 hap.alias("h"))
            .select("source", F.col("v").cast("long").alias("vocab"),
                    "tokens", F.col("h").cast("long").alias("hapax"),
                    F.expr("CAST(h * 1000000 div v AS BIGINT)")
                    .alias("hapax_ratio_e6"))
            .orderBy("source"))


_READABILITY_SQL = """
WITH s AS (
  SELECT lang,
         CAST(len(list_filter(string_split_regex(trim(text), '[.!?]+\\s+'),
                              x -> length(x) > 0)) AS HUGEINT) AS n_sent,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
              AS HUGEINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
              AS HUGEINT) AS n_syll
  FROM documents
), a AS (
  SELECT lang, CAST(count(*) AS HUGEINT) AS n_docs,
         sum(n_sent) AS ns, sum(n_words) AS nw, sum(n_syll) AS nsy
  FROM s GROUP BY 1
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(nsy * 100 // nw AS BIGINT) AS syllables_per_word_e2,
       CAST(39 * nw // ns + 1180 * nsy // nw - 1559 AS BIGINT)
         AS fk_grade_e2
FROM a ORDER BY lang
"""


@register("text_readability", _READABILITY_SQL)
def text_readability(spark, sf_dir):
    """Flesch-Kincaid grade level per language, exact e2 fixed-point:
    0.39·(words/sentence) + 11.8·(syllables/word) − 15.59, each term
    floored at e2 before summing so both engines hash identically.
    Syllables are vowel-group counts ([aeiou]+ runs — the standard
    dictionary-free heuristic; groups never span whitespace, so one
    whole-text regexp_extract_all equals the per-word sum). Sentences
    and words reuse the corpus-wide splitters (text_sentence_profile).
    The readability gate a children's-content or plain-language filter
    applies; one narrow map + 5-key aggregate."""
    d = _t(spark, sf_dir, "documents")
    sents = F.size(F.filter(
        F.split(F.trim(F.col("text")), r"[.!?]+\s+"),
        lambda x: F.length(x) > 0)).cast("decimal(38,0)")
    words = F.size(F.split(F.trim(F.lower("text")), r"\s+")) \
        .cast("decimal(38,0)")
    syll = F.size(F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")) \
        .cast("decimal(38,0)")
    s = d.select("lang", sents.alias("n_sent"), words.alias("n_words"),
                 syll.alias("n_syll"))
    return (s.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_sent").alias("ns"), F.sum("n_words").alias("nw"),
                 F.sum("n_syll").alias("nsy"))
            .select("lang", "n_docs",
                    F.expr("CAST(nsy * 100 div nw AS BIGINT)")
                    .alias("syllables_per_word_e2"),
                    F.expr("CAST(39 * nw div ns + 1180 * nsy div nw - 1559"
                           " AS BIGINT)").alias("fk_grade_e2"))
            .orderBy("lang"))


_CENTROID_DIST_SQL = """
WITH ix AS (
  SELECT label, embedding,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), v AS (
  SELECT label, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
              AS HUGEINT) AS q
  FROM ix
), c AS (
  SELECT label, i, sum(q) // CAST(count(*) AS HUGEINT) AS cq
  FROM v GROUP BY 1, 2
)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(sum((a.cq - b.cq) * (a.cq - b.cq)) AS BIGINT) AS d2_e12
FROM c a JOIN c b ON b.i = a.i AND a.label < b.label
GROUP BY 1, 2 ORDER BY label_a, label_b
"""


@register("ann_centroid_distances", _CENTROID_DIST_SQL)
def ann_centroid_distances(spark, sf_dir):
    """Pairwise squared L2 distances between label centroids — the
    class-separation matrix read next to ann_silhouette_simplified
    (close centroids = confusable classes, the first thing to check
    before trusting a nearest-centroid classifier). Centroids as
    truncating integer means over the e6-quantized coordinates (same
    `div`/`//` discipline as ann_kmeans_update); the pairwise join runs
    on k·d rows — broadcast-sized regardless of corpus size, so the
    only data-scale work is the (label, dim) mean aggregate."""
    embs = _t(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5))
        .cast("decimal(38,0)"))
    v = (embs.select("label", qv.alias("q"))
         .select("label", F.posexplode("q").alias("i", "qd")))
    c = (v.groupBy("label", "i")
         .agg(F.sum("qd").alias("s"),
              F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
         .select("label", "i", F.expr("s div n").alias("cq")))
    b = c.select(F.col("label").alias("label_b"), F.col("i").alias("bi"),
                 F.col("cq").alias("bq"))
    return (c.join(F.broadcast(b), (F.col("i") == F.col("bi"))
                   & (F.col("label") < F.col("label_b")))
            .groupBy(F.col("label").alias("label_a"), "label_b")
            .agg(F.sum((F.col("cq") - F.col("bq"))
                       * (F.col("cq") - F.col("bq"))).cast("long")
                 .alias("d2_e12"))
            .orderBy("label_a", "label_b"))


_PREFIX_COLLISION_SQL = """
WITH p AS (
  SELECT source, substring(text, 1, 64) AS prefix FROM documents
), g AS (
  SELECT source, prefix, CAST(count(*) AS HUGEINT) AS k
  FROM p GROUP BY 1, 2
)
SELECT source, CAST(sum(k) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_prefixes,
       CAST(sum(CASE WHEN k > 1 THEN k ELSE 0 END) AS BIGINT)
         AS docs_in_collisions,
       CAST(max(k) AS BIGINT) AS max_group,
       CAST(sum(CASE WHEN k > 1 THEN k - 1 ELSE 0 END) * 1000000
            // sum(k) AS BIGINT) AS dup_rate_e6
FROM g GROUP BY 1 ORDER BY source
"""


@register("dedup_prefix_collisions", _PREFIX_COLLISION_SQL)
def dedup_prefix_collisions(spark, sf_dir):
    """First-64-char prefix collision report per source — the cheapest
    near-dup tripwire there is (one map + one aggregate, no shingling),
    run BEFORE the MinHash pipeline to size the dedup problem: docs
    sharing a prefix, the largest collision group, and the implied
    duplicate rate (k−1 removable per group, e6). A map-side-combined
    (source, prefix) count then a per-source rollup; prefixes cap key
    width at 64 bytes so the shuffle stays narrow at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    g = (d.select("source", F.substring("text", 1, 64).alias("prefix"))
         .groupBy("source", "prefix")
         .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("k")))
    return (g.groupBy("source")
            .agg(F.sum("k").alias("nd"),
                 F.count(F.lit(1)).cast("long").alias("n_prefixes"),
                 F.sum(F.when(F.col("k") > 1, F.col("k")).otherwise(0))
                 .cast("long").alias("docs_in_collisions"),
                 F.max("k").cast("long").alias("max_group"),
                 F.sum(F.when(F.col("k") > 1, F.col("k") - 1).otherwise(0))
                 .cast("decimal(38,0)").alias("dup"))
            .select("source", F.col("nd").cast("long").alias("n_docs"),
                    "n_prefixes", "docs_in_collisions", "max_group",
                    F.expr("CAST(dup * 1000000 div nd AS BIGINT)")
                    .alias("dup_rate_e6"))
            .orderBy("source"))


_SHUFFLE_DECOR_SQL = """
WITH b AS (
  SELECT CAST(('0x' || substring(md5('e0:' || doc_id), 1, 2)) AS INTEGER)
           AS b0,
         CAST(('0x' || substring(md5('e1:' || doc_id), 1, 2)) AS INTEGER)
           AS b1
  FROM documents
), j AS (
  SELECT b0, b1, CAST(count(*) AS HUGEINT) AS c FROM b GROUP BY 1, 2
), r AS (SELECT b0, sum(c) AS rc FROM j GROUP BY 1),
s AS (SELECT b1, sum(c) AS cc FROM j GROUP BY 1),
g AS (SELECT sum(c) AS n FROM j)
SELECT CAST((SELECT n FROM g) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CASE WHEN j.b0 = j.b1 THEN j.c ELSE 0 END) * 1000000
            // (SELECT n FROM g) AS BIGINT) AS same_bucket_e6,
       CAST(sum(abs(j.c * (SELECT n FROM g) - r.rc * s.cc)) * 1000000
            // (2 * (SELECT n FROM g) * (SELECT n FROM g)) AS BIGINT)
         AS tv_independence_e6
FROM j JOIN r ON r.b0 = j.b0 JOIN s ON s.b1 = j.b1
"""


@register("data_shuffle_decorrelation", _SHUFFLE_DECOR_SQL)
def data_shuffle_decorrelation(spark, sf_dir):
    """Epoch-shuffle decorrelation audit: training pipelines reshuffle
    per epoch by ordering on hash(epoch‖doc_id) — this measures whether
    epoch-0 and epoch-1 orders are actually independent. Each doc maps
    to a 256-way bucket per epoch (first md5 byte); the audit reports
    the same-bucket rate (expected 1/256 ≈ 3906 e6) and the total-
    variation distance between the joint bucket distribution and the
    product of its marginals (0 = independent), both exact integers.
    No global sort anywhere — the metric is a 256×256-cell aggregate,
    so the audit itself scales to any corpus."""
    d = _t(spark, sf_dir, "documents")
    b0 = F.conv(F.substring(F.md5(F.concat(F.lit("e0:"),
                                           F.col("doc_id").cast("string"))),
                            1, 2), 16, 10).cast("int")
    b1 = F.conv(F.substring(F.md5(F.concat(F.lit("e1:"),
                                           F.col("doc_id").cast("string"))),
                            1, 2), 16, 10).cast("int")
    j = (d.select(b0.alias("b0"), b1.alias("b1"))
         .groupBy("b0", "b1")
         .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c")))
    r = j.groupBy("b0").agg(F.sum("c").alias("rc"))
    s = j.groupBy("b1").agg(F.sum("c").alias("cc"))
    g = j.agg(F.sum("c").alias("n"))
    return (j.join(F.broadcast(r), "b0").join(F.broadcast(s), "b1")
            .crossJoin(F.broadcast(g))
            .agg(F.max("n").alias("nn"),
                 F.count(F.lit(1)).cast("long").alias("n_cells"),
                 F.sum(F.when(F.col("b0") == F.col("b1"), F.col("c"))
                       .otherwise(0)).alias("sb"),
                 F.sum(F.abs(F.col("c") * F.col("n")
                             - F.col("rc") * F.col("cc"))).alias("tv"))
            .select(F.col("nn").cast("long").alias("n_docs"), "n_cells",
                    F.expr("CAST(sb * 1000000 div nn AS BIGINT)")
                    .alias("same_bucket_e6"),
                    F.expr("CAST(tv * 1000000 div (2 * nn * nn) AS BIGINT)")
                    .alias("tv_independence_e6")))


_SOURCE_TV_SQL = """
WITH w AS (
  SELECT source,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT term, CAST(count(*) AS HUGEINT) AS f FROM w GROUP BY 1
), top AS (
  SELECT term FROM tf ORDER BY f DESC, term LIMIT 200
), sc AS (
  SELECT w.source, w.term, CAST(count(*) AS HUGEINT) AS c
  FROM w JOIN top ON top.term = w.term GROUP BY 1, 2
), st AS (SELECT source, sum(c) AS n FROM sc GROUP BY 1),
grid AS (
  SELECT st.source, top.term, coalesce(sc.c, 0) AS c, st.n
  FROM st CROSS JOIN top
  LEFT JOIN sc ON sc.source = st.source AND sc.term = top.term
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(sum(abs(a.c * 1000000 // a.n - b.c * 1000000 // b.n)) // 2
            AS BIGINT) AS tv_e6
FROM grid a JOIN grid b ON b.term = a.term AND a.source < b.source
GROUP BY 1, 2 ORDER BY source_a, source_b
"""


@register("text_source_tv_matrix", _SOURCE_TV_SQL)
def text_source_tv_matrix(spark, sf_dir):
    """Pairwise total-variation distance between sources' unigram
    distributions over the corpus top-200 vocabulary (shares floored to
    e6 before |·| so both engines hash identically) — the domain-
    similarity matrix a data-mixing plan reads to decide which sources
    are interchangeable and which add diversity; the pairwise
    completion of text_unigram_drift (each-source-vs-corpus). The
    top-200 cap bounds the all-pairs stage at |sources|²·200 rows
    regardless of corpus size; term counts stay map-side-combinable."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("source",
                 F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                 .alias("term"))
    tf = w.groupBy("term").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("f"))
    top = tf.orderBy(F.col("f").desc(), "term").limit(200).select("term")
    sc = (w.join(F.broadcast(top), "term")
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c")))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    grid = (st.crossJoin(F.broadcast(top))
            .join(sc, ["source", "term"], "left")
            .select("source", "term",
                    F.coalesce(F.col("c"), F.lit(0).cast("decimal(38,0)"))
                    .alias("c"), "n"))
    b = grid.select(F.col("source").alias("source_b"),
                    F.col("term").alias("bterm"),
                    F.col("c").alias("bc"), F.col("n").alias("bn"))
    return (grid.join(b, (F.col("term") == F.col("bterm"))
                      & (F.col("source") < F.col("source_b")))
            .groupBy(F.col("source").alias("source_a"), "source_b")
            .agg(F.sum(F.abs(F.expr("c * 1000000 div n")
                             - F.expr("bc * 1000000 div bn"))).alias("tv"))
            .select("source_a", "source_b",
                    F.expr("CAST(tv div 2 AS BIGINT)").alias("tv_e6"))
            .orderBy("source_a", "source_b"))


_KMEANS_INERTIA_SQL = """
WITH ix AS (
  SELECT vec_id, embedding,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), v AS (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
              AS HUGEINT) AS q
  FROM ix
), c AS (
  SELECT vec_id AS cid, i, q AS cq FROM v WHERE vec_id < 8
), d AS (
  SELECT v.vec_id, c.cid, sum((v.q - c.cq) * (v.q - c.cq)) AS d2
  FROM v JOIN c USING (i) GROUP BY 1, 2
), mem AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d) WHERE rn = 1
)
SELECT CAST(cid AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(d2) AS BIGINT) AS inertia_e12,
       CAST(sum(d2) // CAST(count(*) AS HUGEINT) AS BIGINT)
         AS mean_d2_e12
FROM mem GROUP BY 1 ORDER BY cluster
"""


@register("ann_kmeans_inertia", _KMEANS_INERTIA_SQL)
def ann_kmeans_inertia(spark, sf_dir):
    """Per-cluster inertia (within-cluster sum of squared distances to
    the assigned centroid) — the objective k-means minimizes and the
    elbow-curve statistic; read with ann_kmeans_update's shift column
    it gives the full Lloyd-iteration dashboard. Assignment identical
    to ann_kmeans_assign over e6-quantized integers; then a k-row
    aggregate of the already-computed min distances (no extra pass
    over the vectors). Broadcast centroids, corpus never re-shuffled."""
    embs = _t(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5))
        .cast("decimal(38,0)"))
    v = embs.select("vec_id", qv.alias("q"))
    cents = (v.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq")))
    d2 = (v.crossJoin(F.broadcast(cents))
          .select("vec_id", "cid",
                  F.aggregate(
                      F.zip_with("q", "cq", lambda a, b: (a - b) * (a - b)),
                      F.lit(0).cast("decimal(38,0)"),
                      lambda acc, x: acc + x).alias("d2")))
    mem = (d2.groupBy("vec_id")
           .agg(F.min(F.struct(F.col("d2"), F.col("cid"))).alias("m"))
           .select(F.col("m.cid").alias("cluster"),
                   F.col("m.d2").alias("d2")))
    return (mem.groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nn"),
                 F.sum("d2").alias("sd"))
            .select(F.col("cluster").cast("long").alias("cluster"),
                    F.col("nn").cast("long").alias("n"),
                    F.col("sd").cast("long").alias("inertia_e12"),
                    F.expr("CAST(sd div nn AS BIGINT)").alias("mean_d2_e12"))
            .orderBy("cluster"))


_LABEL_SEPARATION_SQL = """
WITH ix AS (
  SELECT vec_id, label, embedding,
         unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings
), v AS (
  SELECT vec_id, label, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
              AS HUGEINT) AS q
  FROM ix
), c AS (
  SELECT label, i, sum(q) // CAST(count(*) AS HUGEINT) AS cq
  FROM v GROUP BY 1, 2
), intra AS (
  SELECT v.label, v.vec_id, sum((v.q - c.cq) * (v.q - c.cq)) AS d2
  FROM v JOIN c ON c.label = v.label AND c.i = v.i
  GROUP BY 1, 2
), ia AS (
  SELECT label, CAST(count(*) AS HUGEINT) AS n,
         sum(d2) // CAST(count(*) AS HUGEINT) AS mean_intra
  FROM intra GROUP BY 1
), inter AS (
  SELECT a.label, min(x.d2) AS min_inter FROM (
    SELECT a.label AS la, b.label AS lb,
           sum((a.cq - b.cq) * (a.cq - b.cq)) AS d2
    FROM c a JOIN c b ON b.i = a.i AND a.label != b.label
    GROUP BY 1, 2
  ) x JOIN (SELECT DISTINCT label FROM c) a ON a.label = x.la
  GROUP BY 1
)
SELECT ia.label, CAST(ia.n AS BIGINT) AS n,
       CAST(ia.mean_intra AS BIGINT) AS mean_intra_d2_e12,
       CAST(inter.min_inter AS BIGINT) AS min_inter_d2_e12,
       CAST(inter.min_inter * 1000000 // ia.mean_intra AS BIGINT)
         AS separation_e6
FROM ia JOIN inter ON inter.label = ia.label
ORDER BY ia.label
"""


@register("ann_label_separation", _LABEL_SEPARATION_SQL)
def ann_label_separation(spark, sf_dir):
    """Per-label cluster separation: mean squared distance of members to
    their own label centroid (compactness) vs the nearest other
    centroid's squared distance, ratio e6 — a Davies-Bouldin-style
    'is this class tight and far from its neighbours' report; >1e6
    means the nearest foreign centroid is farther than the average
    member. Same e6-quantized integer coordinates and truncating
    centroid means as the rest of the ann_kmeans family. Centroids are
    k·d rows (broadcast); the only corpus-scale pass is the member-to-
    own-centroid distance, a zip_with on a broadcast-joined row."""
    embs = _t(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5))
        .cast("decimal(38,0)"))
    v = embs.select("vec_id", "label", qv.alias("q"))
    ve = v.select("vec_id", "label", F.posexplode("q").alias("i", "qd"))
    c = (ve.groupBy("label", "i")
         .agg(F.sum("qd").alias("s"),
              F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
         .select("label", "i", F.expr("s div n").alias("cq")))
    carr = (c.groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("i", "cq")))
                 .alias("sc"))
            .select("label", F.transform("sc", lambda s: s["cq"])
                    .alias("cvec")))
    intra = (v.join(F.broadcast(carr), "label")
             .select("label",
                     F.aggregate(
                         F.zip_with("q", "cvec",
                                    lambda a, b: (a - b) * (a - b)),
                         F.lit(0).cast("decimal(38,0)"),
                         lambda acc, x: acc + x).alias("d2")))
    ia = (intra.groupBy("label")
          .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
               F.sum("d2").alias("sd"))
          .select("label", "n", F.expr("sd div n").alias("mean_intra")))
    b = c.select(F.col("label").alias("lb"), F.col("i").alias("bi"),
                 F.col("cq").alias("bq"))
    inter = (c.join(F.broadcast(b), (F.col("i") == F.col("bi"))
                    & (F.col("label") != F.col("lb")))
             .groupBy("label", "lb")
             .agg(F.sum((F.col("cq") - F.col("bq"))
                        * (F.col("cq") - F.col("bq"))).alias("d2"))
             .groupBy("label")
             .agg(F.min("d2").alias("min_inter")))
    return (ia.join(inter, "label")
            .select("label", F.col("n").cast("long").alias("n"),
                    F.col("mean_intra").cast("long")
                    .alias("mean_intra_d2_e12"),
                    F.col("min_inter").cast("long")
                    .alias("min_inter_d2_e12"),
                    F.expr("CAST(min_inter * 1000000 div mean_intra"
                           " AS BIGINT)").alias("separation_e6"))
            .orderBy("label"))


_ALPHA_PROFILE_SQL = """
WITH s AS (
  SELECT source, CAST(length(text) AS HUGEINT) AS n,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
              AS HUGEINT) AS n_alpha,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
              AS HUGEINT) AS n_digit,
         CAST(length(text)
              - length(regexp_replace(text, '\\s', '', 'g'))
              AS HUGEINT) AS n_space,
         CAST(len(string_split_regex(trim(text), '\\s+'))
              AS HUGEINT) AS n_words
  FROM documents
)
SELECT source, CAST(sum(n) AS BIGINT) AS n_chars,
       CAST(sum(n_alpha) * 1000000 // sum(n) AS BIGINT) AS alpha_e6,
       CAST(sum(n_digit) * 1000000 // sum(n) AS BIGINT) AS digit_e6,
       CAST(sum(n_space) * 1000000 // sum(n) AS BIGINT) AS space_e6,
       CAST((sum(n) - sum(n_space)) * 100 // sum(n_words) AS BIGINT)
         AS avg_word_len_e2
FROM s GROUP BY 1 ORDER BY source
"""


@register("text_alpha_profile", _ALPHA_PROFILE_SQL)
def text_alpha_profile(spark, sf_dir):
    """Character-class profile per source: alphabetic / digit /
    whitespace density (e6) and mean word length (non-space chars per
    token, e2) — the surface-statistics quality gate (C4 drops pages
    with low alpha ratio; tables and logs flag as digit-heavy); the
    per-source complement of text_lang_quality's per-language stopword
    view. ASCII character classes spelled out ([a-zA-Z], [0-9]) so
    Java regex and RE2 agree; one narrow map + per-source combinable
    aggregate."""
    d = _t(spark, sf_dir, "documents")
    n = F.length("text").cast("decimal(38,0)")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) \
        .cast("decimal(38,0)")
    digit = F.length(F.regexp_replace("text", "[^0-9]", "")) \
        .cast("decimal(38,0)")
    space = (F.length("text")
             - F.length(F.regexp_replace("text", r"\s", ""))) \
        .cast("decimal(38,0)")
    words = F.size(F.split(F.trim(F.col("text")), r"\s+")) \
        .cast("decimal(38,0)")
    s = d.select("source", n.alias("n"), alpha.alias("n_alpha"),
                 digit.alias("n_digit"), space.alias("n_space"),
                 words.alias("n_words"))
    return (s.groupBy("source")
            .agg(F.sum("n").alias("sn"), F.sum("n_alpha").alias("sa"),
                 F.sum("n_digit").alias("sd"), F.sum("n_space").alias("ss"),
                 F.sum("n_words").alias("sw"))
            .select("source", F.col("sn").cast("long").alias("n_chars"),
                    F.expr("CAST(sa * 1000000 div sn AS BIGINT)")
                    .alias("alpha_e6"),
                    F.expr("CAST(sd * 1000000 div sn AS BIGINT)")
                    .alias("digit_e6"),
                    F.expr("CAST(ss * 1000000 div sn AS BIGINT)")
                    .alias("space_e6"),
                    F.expr("CAST((sn - ss) * 100 div sw AS BIGINT)")
                    .alias("avg_word_len_e2"))
            .orderBy("source"))


_VOCAB_COVERAGE_SQL = """
WITH w AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x != '')) AS word
  FROM documents
), f AS (
  SELECT word, CAST(count(*) AS HUGEINT) AS c FROM w GROUP BY 1
), t AS (
  SELECT sum(c) AS tot, CAST(count(*) AS BIGINT) AS vocab FROM f
), top AS (
  SELECT word, c FROM f ORDER BY c DESC, word LIMIT 10000
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS rk,
         sum(c) OVER (ORDER BY c DESC, word
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM top
)
SELECT rk AS vocab_rank, CAST(cum AS BIGINT) AS cum_tokens,
       CAST(cum * 1000000 // (SELECT tot FROM t) AS BIGINT) AS coverage_e6,
       (SELECT vocab FROM t) AS vocab_size
FROM r WHERE rk IN (5, 10, 20, 100, 1000, 10000) ORDER BY rk
"""


@register("text_vocab_coverage", _VOCAB_COVERAGE_SQL)
def text_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: what fraction of all running tokens
    the top-10/100/1k/10k most frequent words cover (e6), plus total
    vocab size — the first statistic a tokenizer design reads (how big
    must the vocab be before coverage flattens into the long tail).
    Scale posture: the word-count aggregate is the only corpus-scale
    pass; the top-10k cut is orderBy+limit, which Spark plans as
    TakeOrderedAndProject (per-partition heaps + driver merge of 10k
    rows, no global sort shuffle), and the rank/cumsum window then
    runs over 10k rows on one partition by construction."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(F.explode(F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda x: x != "")).alias("word"))
    f = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    t = f.agg(F.sum("c").alias("tot"),
              F.count(F.lit(1)).cast("long").alias("vocab"))
    top = f.orderBy(F.desc("c"), F.asc("word")).limit(10000)
    w = Window.orderBy(F.desc("c"), F.asc("word"))
    r = top.select(
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)).alias("cum"))
    return (r.filter(F.col("rk").isin(5, 10, 20, 100, 1000, 10000))
            .crossJoin(F.broadcast(t))
            .select(F.col("rk").alias("vocab_rank"),
                    F.col("cum").cast("long").alias("cum_tokens"),
                    F.expr("CAST(cum * 1000000 div tot AS BIGINT)")
                    .alias("coverage_e6"),
                    F.col("vocab").alias("vocab_size"))
            .orderBy("vocab_rank"))


def _webp_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the WEBP container parse: dims/format/alpha/chunk list
    are pure formulas (sources/multimodal.synthetic_webp_media),
    recomputed here without touching the RIFF bytes."""
    rows = []
    for i in range(n):
        w = 16 + (i * 13 + seed) % 1000
        h = 16 + (i * 29 + seed) % 800
        mode = i % 3
        if mode == 0:
            fmt, alpha = "lossless", bool(i % 2)
            chunks = "VP8L"
        elif mode == 1:
            fmt, alpha, chunks = "lossy", False, "VP8 "
        else:
            fmt = "lossy"
            alpha, exif = bool((i // 3) % 2), bool(i % 2)
            # the encoder emits the VP8X extended layout only when a
            # feature flag (alpha/EXIF) actually requires it
            if alpha or exif:
                parts = (["VP8X"] + (["ALPH"] if alpha else [])
                         + (["EXIF"] if exif else []) + ["VP8 "])
            else:
                parts = ["VP8 "]
            chunks = ",".join(parts)
        rows.append(f"({i}, {w}, {h}, '{fmt}', {int(alpha)}, '{chunks}')")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height, format,"
            f" CAST(has_alpha AS BOOLEAN) AS has_alpha, chunks"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, format, has_alpha, chunks)")


@register("multimodal_webp_metadata", _webp_fixture_sql())
def multimodal_webp_metadata(spark, sf_dir):
    """REAL WEBP container metadata (sources/multimodal.parse_webp):
    genuine RIFF chunk walks inside mapInPandas — canvas dims from VP8X /
    VP8L packed header / VP8 keyframe start code, lossy-vs-lossless,
    alpha flag, chunk inventory; VP8 entropy decode remains honestly
    behind the codec stub, exactly like MP4 frames."""
    from .sources.multimodal import (
        extract_webp_metadata,
        synthetic_webp_media,
    )
    return extract_webp_metadata(synthetic_webp_media(spark, 30))


def _pdf_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the PDF metadata parse: version/object-count/page-count/
    MediaBox/stream-byte totals are pure formulas (sources/pdf.
    synthetic_pdf_media), recomputed here without touching the PDF bytes."""
    sizes = [(612, 792), (595, 842), (612, 1008)]
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 7 + seed) % 5
        w, h = sizes[i % 3]
        cb = sum(len(f"BT /F1 12 Tf 72 720 Td (page {p} of doc {i}) Tj ET")
                 for p in range(n_pages))
        rows.append(f"({i}, '1.4', {2 * n_pages + 3}, {n_pages}, {w}, {h},"
                    f" {cb}, 'doc-{i}')")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id, version,"
            f" CAST(n_objects AS INTEGER) AS n_objects,"
            f" CAST(n_pages AS INTEGER) AS n_pages,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(content_bytes AS BIGINT) AS content_bytes, title"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, version, n_objects, n_pages, width, height,"
            f" content_bytes, title)")


@register("multimodal_pdf_metadata", _pdf_fixture_sql())
def multimodal_pdf_metadata(spark, sf_dir):
    """REAL PDF 1.4 metadata (sources/pdf.parse_pdf): reader-style parse —
    tail startxref → xref table (offset-driven object access) → trailer
    /Root → catalog → flat page-tree walk; first-page MediaBox dims,
    uncompressed-stream byte total, Info /Title. The reference pipeline is
    PDF-first (core/document_processor.py extractor chain); this is the
    container-metadata stage a curation pipeline runs before spending a
    text extraction. Compressed xref streams / filtered content streams
    are honestly refused, like progressive JPEG."""
    from .sources.pdf import extract_pdf_metadata, synthetic_pdf_media
    return extract_pdf_metadata(synthetic_pdf_media(spark, 30))


def _pdf_text_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for PDF text extraction: the expected text is a pure formula
    (sources/pdf.rich_page_text) recomputed here without touching the PDF
    bytes or the parser."""
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 5 + seed) % 4
        text = " ".join(
            f"Gradient descent notes (doc {i})"
            f" machine learning page {p}"
            f" neural network summary {i}-{p}" for p in range(n_pages))
        esc = text.replace("'", "''")
        rows.append(f"({i}, {n_pages}, '{esc}', {len(text.split())})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(n_pages AS INTEGER) AS n_pages, text,"
            f" CAST(n_words AS INTEGER) AS n_words"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, n_pages, text, n_words)")


@register("multimodal_pdf_text", _pdf_text_fixture_sql())
def multimodal_pdf_text(spark, sf_dir):
    """REAL PDF text extraction (sources/pdf.pdf_text): content streams
    sliced to exactly their /Length bytes via the xref walk, show-text
    operators decoded in stream order — literal-string escapes, octal
    escapes, nested parens, TJ kerning arrays. This is the ingestion stage
    that turns the reference's primary input (PDF corpora,
    core/document_processor.py) into documents-table rows; pdf_documents()
    feeds the output straight into the KG extract stage."""
    from .sources.pdf import extract_pdf_text, synthetic_pdf_text_media
    return extract_pdf_text(synthetic_pdf_text_media(spark, 24))


def _rich_pdf_text(i: int, n_pages: int) -> str:
    return " ".join(
        f"Gradient descent notes (doc {i})"
        f" machine learning page {p}"
        f" neural network summary {i}-{p}" for p in range(n_pages))


def _pdf_fallback_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the PDF extractor fallback chain: which chain stage each
    damage mode lands on, and the text every stage must still recover —
    pure formulas over the fixture parameters."""
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 5 + seed) % 4
        mode = i % 3
        extractor = ["xref", "scan", "harvest"][mode]
        text = _rich_pdf_text(i, n_pages).replace("'", "''")
        rows.append(f"({i}, '{extractor}',"
                    f" {n_pages if mode < 2 else 0}, '{text}')")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id, extractor,"
            f" CAST(n_pages AS INTEGER) AS n_pages, text"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, extractor, n_pages, text)")


@register("multimodal_pdf_fallback", _pdf_fallback_fixture_sql())
def multimodal_pdf_fallback(spark, sf_dir):
    """PDF extractor FALLBACK CHAIN (sources/pdf.pdf_text_chain) — the
    reference's 3-library chain (document_processor.py:91-177: pypdf →
    pdfplumber → pymupdf, first success wins, provenance recorded)
    re-expressed as three genuinely different parsing strategies: strict
    xref-offset-driven → object-header scan recovery (broken xref) →
    structureless show-op harvest (broken page tree). The fixture damages
    each document deterministically so every chain stage appears, and all
    three stages must recover the IDENTICAL text."""
    from .sources.pdf import (
        extract_pdf_text_chain,
        synthetic_pdf_corrupt_media,
    )
    return extract_pdf_text_chain(synthetic_pdf_corrupt_media(spark, 24))


def _doc_ingest_fixture_sql(n: int = 28, seed: int = 42) -> str:
    """Oracle for the unified ingestion dispatch: doc-type routing,
    extractor provenance, page/chapter counts and extracted text as pure
    formulas over the mixed-corpus fixture."""
    rows = []
    for i in range(n):
        kind = i % 7
        if kind <= 2:
            n_pages = 1 + (i * 5 + seed) % 4
            text = _rich_pdf_text(i, n_pages)
            dt, ex = "pdf", ["xref", "scan", "harvest"][kind]
            npg = n_pages if kind < 2 else 0
        elif kind <= 4:
            n_ch = 1 + (i * 3 + seed) % 3
            text = " ".join(
                f"Chapter {c} Notes on machine learning & neural network"
                f" design, doc {i}." for c in range(n_ch))
            dt, ex, npg = "epub", "epub", n_ch
        elif kind == 5:
            text = f"plain notes {i} on gradient descent"
            dt, ex, npg = "text", "plain", 1
        else:
            text, dt, ex, npg = "", "unsupported", "none", 0
        esc = text.replace("'", "''")
        rows.append(f"({i}, '{dt}', '{ex}', {npg}, {len(text)}, '{esc}')")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id, doc_type,"
            f" extractor, CAST(n_pages AS INTEGER) AS n_pages,"
            f" CAST(n_chars AS INTEGER) AS n_chars, text"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, doc_type, extractor, n_pages, n_chars, text)")


@register("multimodal_doc_ingest", _doc_ingest_fixture_sql())
def multimodal_doc_ingest(spark, sf_dir):
    """Unified document-ingestion dispatch (sources/ingest.
    ingest_documents) — the reference's process_file
    (document_processor.py:506-539) as ONE mapInPandas operator: PDF →
    fallback chain with provenance, EPUB → REAL OCF/zip container walk
    (mimetype entry, container.xml, OPF manifest+spine, XHTML strip),
    txt/md → plain decode, anything else → `unsupported` row; failures
    yield `failed` rows, never batch-killing throws."""
    from .sources.ingest import ingest_documents, synthetic_mixed_corpus
    return ingest_documents(synthetic_mixed_corpus(spark, 28))


def _pdf_pages_fixture_sql(n: int = 12, seed: int = 42) -> str:
    """Oracle for per-page extraction with char-offset spans: page text and
    its [start, end) span in the space-joined document text — pure
    formulas."""
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 5 + seed) % 4
        pos = 0
        for p in range(n_pages):
            text = (f"Gradient descent notes (doc {i})"
                    f" machine learning page {p}"
                    f" neural network summary {i}-{p}")
            start = pos if p == 0 else pos + 1
            rows.append(f"({i}, {p}, '{text}', {start},"
                        f" {start + len(text)})")
            pos = start + len(text)
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(page AS INTEGER) AS page, text,"
            f" CAST(char_start AS INTEGER) AS char_start,"
            f" CAST(char_end AS INTEGER) AS char_end"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, page, text, char_start, char_end)")


@register("multimodal_pdf_pages", _pdf_pages_fixture_sql())
def multimodal_pdf_pages(spark, sf_dir):
    """Per-page PDF extraction with the reference's page_mapping semantics
    (document_processor.py: char_pos → (page, start, end)): each page row
    carries its exact [char_start, char_end) span in the concatenated
    document text — what citation rendering needs to attribute a quote to
    'p. N'. Spans are pinned exact in tests: full_text[start:end] ==
    page_text for every page."""
    from .sources.pdf import extract_pdf_pages, synthetic_pdf_text_media
    return extract_pdf_pages(synthetic_pdf_text_media(spark, 12))


def _bridges_sql(rounds: int = 6, top_k: int = 16) -> str:
    """Bridge-detection oracle: per-edge BFS unrolled — round i grows every
    probe's reachable set through the undirected edge list minus the probed
    edge itself; after `rounds` ≥ hop diameter, an edge is a bridge iff its
    far endpoint was never reached. Top-K-strongest edge selection is fully
    deterministic (ORDER BY common DESC, term_a, term_b)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), p AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, count(*) AS c
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
), te AS MATERIALIZED (
  SELECT a, b FROM p ORDER BY c DESC, a, b LIMIT {top_k}
), und AS MATERIALIZED (
  SELECT a AS s, b AS d FROM te UNION ALL SELECT b, a FROM te
), r0 AS (SELECT a, b, a AS node FROM te)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT DISTINCT a, b, node FROM (
    SELECT a, b, node FROM r{i - 1}
    UNION ALL
    SELECT r.a, r.b, u.d AS node
    FROM r{i - 1} r JOIN und u ON u.s = r.node
    WHERE NOT (least(u.s, u.d) = r.a AND greatest(u.s, u.d) = r.b)
  ))""")
    return head + "".join(steps) + f"""
SELECT t.a AS term_a, t.b AS term_b, (h.a IS NULL) AS is_bridge
FROM te t LEFT JOIN (SELECT a, b FROM r{rounds} WHERE node = b) h
  ON h.a = t.a AND h.b = t.b"""


@register("kg_bridges_docs", _bridges_sql())
def kg_bridges_docs(spark, sf_dir):
    """Cut-edge (bridge) detection over the 16 strongest co-occurrence
    edges — which associations, if dropped, disconnect the entity graph
    (KG robustness audit; reference analog: nx.bridges over the built
    graph). Distributed per-edge parallel BFS
    (operators/graph_algos.bridges): all probes share one frontier table,
    one equi-join per round, converge-then-stop."""
    from .operators.graph_algos import bridges
    e = (_cooc_edges(spark, sf_dir, 1)
         .orderBy(F.col("common").desc(), "term_a", "term_b").limit(16)
         .select("term_a", "term_b"))
    return bridges(e, src="term_a", dst="term_b", max_rounds=8)


def _articulation_sql(rounds: int = 6, top_k: int = 16) -> str:
    """Cut-vertex oracle: for each node v, BFS from v's minimum neighbor
    with v excluded, unrolled `rounds` times; v is an articulation point
    iff some neighbor of v is never reached (its neighborhood falls apart
    without it)."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), p AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, count(*) AS c
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
), te AS MATERIALIZED (
  SELECT a, b FROM p ORDER BY c DESC, a, b LIMIT {top_k}
), und AS MATERIALIZED (
  SELECT a AS s, b AS d FROM te UNION ALL SELECT b, a FROM te
), r0 AS (SELECT s AS v, min(d) AS node FROM und GROUP BY s)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT DISTINCT v, node FROM (
    SELECT v, node FROM r{i - 1}
    UNION ALL
    SELECT r.v, u.d AS node
    FROM r{i - 1} r JOIN und u ON u.s = r.node
    WHERE u.s <> r.v AND u.d <> r.v
  ))""")
    return head + "".join(steps) + f"""
, miss AS (
  SELECT DISTINCT u.s AS v
  FROM und u LEFT JOIN r{rounds} r ON r.v = u.s AND r.node = u.d
  WHERE r.v IS NULL
)
SELECT n.v AS term, (m.v IS NOT NULL) AS is_articulation
FROM (SELECT DISTINCT s AS v FROM und) n LEFT JOIN miss m ON m.v = n.v"""


@register("kg_articulation_points_docs", _articulation_sql())
def kg_articulation_points_docs(spark, sf_dir):
    """Cut-vertex detection over the 16 strongest co-occurrence edges —
    which entities hold the graph together (single points of failure in
    the KG topology; reference analog: nx.articulation_points).
    Distributed per-node parallel BFS
    (operators/graph_algos.articulation_points): every probe shares one
    frontier table, one equi-join per round."""
    from .operators.graph_algos import articulation_points
    e = (_cooc_edges(spark, sf_dir, 1)
         .orderBy(F.col("common").desc(), "term_a", "term_b").limit(16)
         .select("term_a", "term_b"))
    return articulation_points(e, src="term_a", dst="term_b", max_rounds=8)


def _twoecc_sql(bfs_rounds: int = 6, cc_rounds: int = 10,
                top_k: int = 16) -> str:
    """2-edge-connected-components oracle: the bridge BFS (see
    _bridges_sql) finds the cut edges, min-label propagation over the
    remaining edges finds their components, and bridge-only nodes fall
    back to singleton labels via coalesce."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), p AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, count(*) AS c
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
), te AS MATERIALIZED (
  SELECT a, b FROM p ORDER BY c DESC, a, b LIMIT {top_k}
), und AS MATERIALIZED (
  SELECT a AS s, b AS d FROM te UNION ALL SELECT b, a FROM te
), r0 AS (SELECT a, b, a AS node FROM te)"""
    steps = []
    for i in range(1, bfs_rounds + 1):
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT DISTINCT a, b, node FROM (
    SELECT a, b, node FROM r{i - 1}
    UNION ALL
    SELECT r.a, r.b, u.d AS node
    FROM r{i - 1} r JOIN und u ON u.s = r.node
    WHERE NOT (least(u.s, u.d) = r.a AND greatest(u.s, u.d) = r.b)
  ))""")
    mid = f""",
ke AS MATERIALIZED (
  SELECT t.a, t.b
  FROM te t LEFT JOIN (SELECT a, b FROM r{bfs_rounds} WHERE node = b) h
    ON h.a = t.a AND h.b = t.b
  WHERE h.a IS NOT NULL
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM ke UNION SELECT b, a FROM ke
), cnodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
l0 AS (SELECT node, node AS lbl FROM cnodes)"""
    for i in range(1, cc_rounds + 1):
        p = f"l{i - 1}"
        mid += f""",
l{i} AS MATERIALIZED (
  SELECT nd.node, least(s.lbl, coalesce(nb.mn, s.lbl)) AS lbl
  FROM cnodes nd
  JOIN {p} s ON s.node = nd.node
  LEFT JOIN (SELECT bd.node, min(pv.lbl) AS mn
             FROM bd JOIN {p} pv ON pv.node = bd.nbr
             GROUP BY bd.node) nb ON nb.node = nd.node
)"""
    return head + "".join(steps) + mid + f"""
SELECT an.node AS term, coalesce(l.lbl, an.node) AS comp2
FROM (SELECT DISTINCT s AS node FROM und) an
LEFT JOIN l{cc_rounds} l ON l.node = an.node"""


@register("kg_2ecc_docs", _twoecc_sql())
def kg_2ecc_docs(spark, sf_dir):
    """2-edge-connected components over the 16 strongest co-occurrence
    edges: remove the bridges (operators/graph_algos.bridges), then run
    the REAL distributed large-star/small-star CC operator
    (canonicalize.connected_components, driver path disabled) on what
    remains; nodes whose every edge was a bridge become singleton
    components. The robustness partition of the KG — node pairs inside a
    component stay connected after any single edge failure."""
    from .operators.canonicalize import connected_components
    from .operators.graph_algos import bridges
    e = (_cooc_edges(spark, sf_dir, 1)
         .orderBy(F.col("common").desc(), "term_a", "term_b").limit(16)
         .select("term_a", "term_b"))
    br = bridges(e, src="term_a", dst="term_b", max_rounds=8)
    kept = (br.filter(~F.col("is_bridge"))
            .select(F.col("term_a").alias("src"),
                    F.col("term_b").alias("dst")))
    cc = connected_components(kept, driver_threshold=0) \
        .withColumnRenamed("norm_term", "term")
    nodes = (e.select(F.col("term_a").alias("term"))
             .unionByName(e.select(F.col("term_b").alias("term")))
             .distinct())
    return (nodes.join(cc, "term", "left")
            .select("term", F.coalesce("canon", "term").alias("comp2")))


_WSAMPLE_SQL = """
WITH h AS (
  SELECT doc_id, n_chars,
         (CAST(concat('0x', substr(md5(concat('wsample:42:',
              CAST(doc_id AS VARCHAR))), 1, 13)) AS UBIGINT) + 0.5)
         / 4503599627370496.0 AS u
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, round(ln(u) / n_chars, 6) AS es_key
FROM h ORDER BY ln(u) / n_chars DESC, doc_id LIMIT 200
"""


@register("data_weighted_sample", _WSAMPLE_SQL)
def data_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement, 200 docs with probability ∝
    n_chars (Efraimidis-Spirakis keys; operators/text_analysis.
    weighted_sample). The md5-seeded uniform makes the draw exact and
    engine-portable — the top-k selection is bit-identical in Spark and
    the SQL oracle, retry- and partitioning-proof at 100 TB."""
    from .operators.text_analysis import weighted_sample
    return weighted_sample(_t(spark, sf_dir, "documents"), k=200,
                           weight_col="n_chars", key_col="doc_id", seed=42)


_CONTAINMENT_SQL = """
WITH sh AS (
  SELECT doc_id AS id, lang AS blk,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)
)
SELECT a.id AS id_sub, b.id AS id_super,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6)
           AS containment
FROM sh a JOIN sh b ON a.blk = b.blk AND a.id <> b.id
WHERE len(a.s) > 0
  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.3
"""


@register("dedup_containment_docs", _CONTAINMENT_SQL)
def dedup_containment_docs(spark, sf_dir):
    """Asymmetric sub-document duplication (operators/dedup.
    containment_pairs): directional C(A→B) = |sh∩|/|sh(A)| ≥ 0.3 pairs —
    catches a short doc embedded in a long one, which symmetric Jaccard
    (dedup_ngram_jaccard_docs) structurally misses. The engine runs the
    exact prefix-filtered path (contained-side rarest-shingle index ⋈
    full postings); the oracle is the brute definitional join."""
    from .operators.dedup import containment_pairs
    return containment_pairs(_t(spark, sf_dir, "documents"),
                             threshold=0.3, k=3)


_BURSTINESS_SQL = """
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), cnt AS (
  SELECT doc_id, tok, count(*) AS c FROM w WHERE tok <> '' GROUP BY 1, 2
), d AS (SELECT count(*) AS nd FROM documents),
top AS (
  SELECT tok, count(*) AS df,
         CAST(sum(c) AS HUGEINT) AS s1, CAST(sum(c * c) AS HUGEINT) AS s2
  FROM cnt GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 20
)
SELECT tok AS term, CAST(df AS BIGINT) AS df,
       CAST(s1 AS BIGINT) AS total_count,
       CAST(((SELECT nd FROM d) * s2 - s1 * s1) * 1000000
            // ((SELECT nd FROM d) * s1) AS BIGINT) AS vmr_e6
FROM top
"""


@register("text_term_burstiness", _BURSTINESS_SQL)
def text_term_burstiness(spark, sf_dir):
    """Term burstiness (variance-to-mean ratio of per-doc counts, zeros
    included) for the 20 highest-df terms — VMR ≈ 1 is Poisson scatter,
    ≫ 1 is clumping (boilerplate, topical bursts): a corpus-quality lens
    Zipf/df profiles miss. Exact end to end: population VMR =
    (D·S2 − S1²)/(D·S1) in decimal(38,0)/HUGEINT cross-multiplication,
    e6 fixed point, no floats anywhere."""
    docs = _t(spark, sf_dir, "documents")
    cnt = (docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("tok"))
           .filter(F.col("tok") != "")
           .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c")))
    top = (cnt.groupBy("tok")
           .agg(F.count(F.lit(1)).alias("df"),
                F.sum(F.col("c").cast("decimal(38,0)")).alias("s1"),
                F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
                .alias("s2"))
           .orderBy(F.col("df").desc(), "tok").limit(20))
    d = docs.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nd"))
    return (top.crossJoin(F.broadcast(d))
            .select(F.col("tok").alias("term"),
                    F.col("df").cast("long").alias("df"),
                    F.col("s1").cast("long").alias("total_count"),
                    F.expr("CAST((nd * s2 - s1 * s1) * 1000000"
                           " div (nd * s1) AS BIGINT)").alias("vmr_e6")))


_KFOLD_SQL = """
WITH r AS (
  SELECT lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(concat('kfold:', CAST(doc_id AS VARCHAR))), doc_id
         ) - 1 AS rn
  FROM documents
)
SELECT lang, CAST(rn % 5 AS INTEGER) AS fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM r GROUP BY 1, 2
"""


@register("data_kfold_split", _KFOLD_SQL)
def data_kfold_split(spark, sf_dir):
    """Stratified k-fold assignment (k=5, stratum = lang) for
    cross-validation over the corpus: docs are ordered inside each
    stratum by a salted md5 of their id (deterministic, uncorrelated
    with content) and dealt round-robin, so fold sizes within a stratum
    differ by at most one — the guarantee random assignment lacks.
    Output is the fold manifest (docs + chars per stratum × fold) that
    a training job joins back on. One window per stratum partition; at
    scale the md5 rank is a per-stratum sort, and strata process
    independently (no global order)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("kfold:"), F.col("doc_id").cast("string"))),
        "doc_id")
    r = d.select("lang", "n_chars",
                 (F.row_number().over(w) - 1).alias("rn"))
    return (r.groupBy("lang", (F.col("rn") % 5).cast("int").alias("fold"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars")))


_TRANSITIVITY_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), deg AS (
  SELECT term AS node, CAST(count(*) AS HUGEINT) AS d FROM (
    SELECT a AS term FROM e UNION ALL SELECT b FROM e
  ) GROUP BY term
), tri AS (
  SELECT CAST(count(*) AS HUGEINT) AS n_tri
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), agg AS (
  SELECT CAST(count(*) AS HUGEINT) AS n_nodes,
         sum(d * (d - 1) // 2) AS n_wedges
  FROM deg
)
SELECT CAST(agg.n_nodes AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST(agg.n_wedges AS BIGINT) AS n_wedges,
       CAST(tri.n_tri AS BIGINT) AS n_triangles,
       CAST(CASE WHEN agg.n_wedges > 0
            THEN 3 * tri.n_tri * 1000000 // agg.n_wedges
            ELSE 0 END AS BIGINT) AS transitivity_e6
FROM agg CROSS JOIN tri
"""


@register("kg_transitivity_docs", _TRANSITIVITY_SQL)
def kg_transitivity_docs(spark, sf_dir):
    """Global clustering coefficient (transitivity) of the documents
    co-occurrence graph: 3·triangles / wedges with wedges = Σd(d−1)/2,
    as one exact e6 ratio — the whole-graph closure-density number that
    complements the per-node local coefficients kg_triangles_docs emits
    (operators/graph_algos.triangle_counts; the reference reports
    whole-graph stats in its graph summary path, graph_tools.py). The
    triangle total re-derives from the per-node counts (Σ/3 — every
    triangle has exactly 3 corners, so the sum is always divisible);
    wedges come from the degree table. All integer arithmetic."""
    from .operators.graph_algos import triangle_counts
    edges = _cooc_edges(spark, sf_dir)
    tc = triangle_counts(edges, src="term_a", dst="term_b")
    agg = tc.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_nodes"),
        F.sum(F.expr("CAST(degree AS DECIMAL(38,0))"
                     " * (degree - 1) div 2")).alias("n_wedges"),
        (F.sum(F.col("triangles").cast("decimal(38,0)"))
         / F.lit(3)).cast("decimal(38,0)").alias("n_tri"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("ne"))
    return (agg.crossJoin(F.broadcast(n_edges))
            .select(F.col("n_nodes").cast("long").alias("n_nodes"),
                    F.col("ne").cast("long").alias("n_edges"),
                    F.col("n_wedges").cast("long").alias("n_wedges"),
                    F.col("n_tri").cast("long").alias("n_triangles"),
                    F.expr("CAST(CASE WHEN n_wedges > 0 THEN"
                           " 3 * n_tri * 1000000 div n_wedges"
                           " ELSE 0 END AS BIGINT)")
                    .alias("transitivity_e6")))


_KEYWORD_CHI2_SQL = """
WITH m AS (
  SELECT DISTINCT doc_id, source, tok FROM (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
), n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM documents),
srcs AS (SELECT source, CAST(count(*) AS HUGEINT) AS ns
         FROM documents GROUP BY 1),
dfs AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS HUGEINT) AS df
  FROM m GROUP BY 1
), a AS (
  SELECT source, tok, CAST(count(*) AS HUGEINT) AS a
  FROM m GROUP BY 1, 2
), chi AS (
  SELECT a.source, a.tok, a.a, srcs.ns, dfs.df, n.n,
         (n.n * (a.a * (n.n - srcs.ns - dfs.df + a.a)
                 - (srcs.ns - a.a) * (dfs.df - a.a))
              * (a.a * (n.n - srcs.ns - dfs.df + a.a)
                 - (srcs.ns - a.a) * (dfs.df - a.a)) * 1000000)
         // (srcs.ns * (n.n - srcs.ns) * dfs.df * (n.n - dfs.df)) AS chi2_e6
  FROM a JOIN srcs USING (source) JOIN dfs USING (tok) CROSS JOIN n
  WHERE dfs.df >= 20 AND dfs.df <= n.n - 20 AND srcs.ns < n.n
), ranked AS (
  SELECT source, tok AS token, CAST(a AS BIGINT) AS df_in_source,
         CAST(ns AS BIGINT) AS n_source_docs, CAST(df AS BIGINT) AS df_global,
         CAST(chi2_e6 AS BIGINT) AS chi2_e6,
         row_number() OVER (PARTITION BY source
                            ORDER BY chi2_e6 DESC, tok) AS rank
  FROM chi
)
SELECT source, CAST(rank AS INTEGER) AS rank, token, df_in_source,
       n_source_docs, df_global, chi2_e6
FROM ranked WHERE rank <= 5
"""


@register("text_keyword_chi2", _KEYWORD_CHI2_SQL)
def text_keyword_chi2(spark, sf_dir):
    """Supervised keyword selection: per-source discriminative unigrams by
    χ² over the 2×2 doc-presence contingency (in-source-with-term vs the
    three complements), the classic feature-selection score — top 5 per
    source, exact e6 fixed point via N(ad−bc)²·10⁶ div (row/col marginal
    product). Tokens thinned to 20 ≤ df ≤ N−20 (a term in almost no or
    almost every doc discriminates nothing and would divide by ~0). Doc
    presence dedups BEFORE counting (one distinct on (doc, token)), both
    marginal tables broadcast; the per-source top-k window partitions by
    source. Exact while N⁵·10⁶ < 10³⁸ (N ≲ 10⁶ docs per comparison slice
    — shard by lang/domain above that, as the reference's corpus slicing
    does)."""
    d = _t(spark, sf_dir, "documents")
    m = (d.select("doc_id", "source",
                  F.explode(F.split("text", " ")).alias("tok"))
         .filter(F.col("tok") != "").distinct())
    n = d.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    srcs = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("ns"))
    dfs = m.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("decimal(38,0)").alias("df"))
    a = m.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("a"))
    chi = (a.join(F.broadcast(srcs), "source").join(dfs, "tok")
           .crossJoin(F.broadcast(n))
           .filter((F.col("df") >= 20) & (F.col("df") <= F.col("n") - 20)
                   & (F.col("ns") < F.col("n")))
           .withColumn("chi2_e6", F.expr(
               "(n * (a * (n - ns - df + a) - (ns - a) * (df - a))"
               " * (a * (n - ns - df + a) - (ns - a) * (df - a)) * 1000000)"
               " div (ns * (n - ns) * df * (n - df))")))
    w = Window.partitionBy("source").orderBy(F.col("chi2_e6").desc(), "tok")
    return (chi.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("source", F.col("rank").cast("int").alias("rank"),
                    F.col("tok").alias("token"),
                    F.col("a").cast("long").alias("df_in_source"),
                    F.col("ns").cast("long").alias("n_source_docs"),
                    F.col("df").cast("long").alias("df_global"),
                    F.col("chi2_e6").cast("long").alias("chi2_e6")))


_FILTER_FUNNEL_SQL = """
WITH f AS (
  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS s1,
         CASE WHEN n_chars >= 200 AND
              len(list_filter(string_split(text, ' '), w -> w <> '')) >= 30
              THEN 1 ELSE 0 END AS s2,
         CASE WHEN n_chars >= 200 AND
              len(list_filter(string_split(text, ' '), w -> w <> '')) >= 30
              AND len(list_distinct(list_filter(string_split(text, ' '),
                                                w -> w <> ''))) * 10 >=
                  len(list_filter(string_split(text, ' '), w -> w <> '')) * 3
              THEN 1 ELSE 0 END AS s3,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
              THEN 1 ELSE 0 END AS keeper
  FROM documents
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n0, CAST(sum(s1) AS BIGINT) AS n1,
         CAST(sum(s2) AS BIGINT) AS n2, CAST(sum(s3) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN s3 = 1 AND keeper = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n4
  FROM f
)
SELECT stage, label, n_surviving,
       lag(n_surviving, 1, n_surviving) OVER (ORDER BY stage) - n_surviving
           AS n_dropped
FROM (
  SELECT 0 AS stage, 'all_docs' AS label, n0 AS n_surviving FROM agg
  UNION ALL SELECT 1, 'min_chars_200', n1 FROM agg
  UNION ALL SELECT 2, 'min_words_30', n2 FROM agg
  UNION ALL SELECT 3, 'distinct_ratio_30pct', n3 FROM agg
  UNION ALL SELECT 4, 'exact_dedup_keeper', n4 FROM agg
)
"""


@register("data_filter_funnel", _FILTER_FUNNEL_SQL)
def data_filter_funnel(spark, sf_dir):
    """Sequential quality-filter survival funnel — the per-stage yield
    report every training-data pipeline publishes before a run (how many
    docs survive length → word-count → lexical-diversity → exact-dedup,
    and where the losses concentrate). Stages are CUMULATIVE (a doc must
    pass all earlier gates), the dedup keeper is min(doc_id) per
    md5(text) group, and the whole funnel is ONE scan + one aggregate —
    stage counts are conditional sums, never one pass per stage (at 100
    TB, 5 passes vs 1 is the difference)."""
    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    s1 = (F.col("n_chars") >= 200).cast("int")
    s2 = (s1 == 1) & (F.size(words) >= 30)
    s3 = s2 & (F.size(F.array_distinct(words)) * 10 >= F.size(words) * 3)
    keeper = (F.col("doc_id")
              == F.min("doc_id").over(Window.partitionBy(F.md5("text"))))
    f = d.select(s1.alias("s1"), s2.cast("int").alias("s2"),
                 s3.cast("int").alias("s3"), keeper.cast("int").alias("keeper"))
    agg = f.agg(F.count(F.lit(1)).cast("long").alias("n0"),
                F.sum("s1").cast("long").alias("n1"),
                F.sum("s2").cast("long").alias("n2"),
                F.sum("s3").cast("long").alias("n3"),
                F.sum(((F.col("s3") == 1) & (F.col("keeper") == 1))
                      .cast("int")).cast("long").alias("n4"))
    stages = agg.select(F.expr(
        "stack(5, 0, 'all_docs', n0, 1, 'min_chars_200', n1,"
        " 2, 'min_words_30', n2, 3, 'distinct_ratio_30pct', n3,"
        " 4, 'exact_dedup_keeper', n4) AS (stage, label, n_surviving)"))
    wl = Window.orderBy("stage")
    return stages.select(
        "stage", "label", "n_surviving",
        (F.coalesce(F.lag("n_surviving", 1).over(wl), F.col("n_surviving"))
         - F.col("n_surviving")).alias("n_dropped"))


_PRF_QUERY_TERMS = ("spark", "join", "vector")
_PRF_FB_K = 10

_PRF_SQL = f"""
WITH fb AS MATERIALIZED (
  SELECT doc_id FROM ({_bm25_sql(terms=_PRF_QUERY_TERMS, k=_PRF_FB_K)})
), base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             w -> w != '') AS words
  FROM documents
), pres AS (
  SELECT DISTINCT doc_id, unnest(words) AS tok FROM base
), nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM documents),
dfg AS (SELECT tok, CAST(count(*) AS HUGEINT) AS df FROM pres GROUP BY 1),
dff AS (
  SELECT tok, CAST(count(*) AS HUGEINT) AS dfb
  FROM pres JOIN fb USING (doc_id) GROUP BY 1
), scored AS (
  SELECT tok AS token, CAST(dfb AS BIGINT) AS df_feedback,
         CAST(df AS BIGINT) AS df_global,
         CAST(dfb * nn.n * 1000000 // ({_PRF_FB_K} * df) AS BIGINT)
             AS lift_e6
  FROM dff JOIN dfg USING (tok) CROSS JOIN nn
  WHERE dfb >= 3
    AND tok NOT IN ({', '.join(repr(t) for t in _PRF_QUERY_TERMS)})
)
SELECT token, df_feedback, df_global, lift_e6,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY lift_e6 DESC, token) AS rank
      FROM scored)
WHERE rank <= 15
"""


@register("search_prf_expansion", _PRF_SQL)
def search_prf_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (Rocchio-style, the
    standard IR trick): run BM25, take the top-10 feedback docs, and rank
    candidate expansion terms by how over-represented they are in the
    feedback set vs the corpus — lift = (df_fb/10)/(df/N) as an exact e6
    integer, floor ≥3 feedback docs, query terms excluded, top 15. The
    feedback set is a broadcast 10-row table; candidate scoring is one
    semi-joined presence aggregate against the global df table (both
    map-side-combinable) — no per-query corpus rescan."""
    from .operators.tfidf import bm25_rank
    d = _t(spark, sf_dir, "documents")
    fb = (bm25_rank(d, list(_PRF_QUERY_TERMS), k=_PRF_FB_K)
          .select("doc_id"))
    words = F.filter(F.split(F.lower(F.trim("text")), r"\s+"),
                     lambda w: w != "")
    pres = (d.select("doc_id", F.explode(words).alias("tok")).distinct())
    nn = d.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    dfg = pres.groupBy("tok").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("df"))
    dff = (pres.join(F.broadcast(fb), "doc_id")
           .groupBy("tok")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("dfb")))
    scored = (dff.join(dfg, "tok").crossJoin(F.broadcast(nn))
              .filter((F.col("dfb") >= 3)
                      & ~F.col("tok").isin(*_PRF_QUERY_TERMS))
              .select(F.col("tok").alias("token"),
                      F.col("dfb").cast("long").alias("df_feedback"),
                      F.col("df").cast("long").alias("df_global"),
                      F.expr(f"CAST(dfb * n * 1000000"
                             f" div ({_PRF_FB_K} * df) AS BIGINT)")
                      .alias("lift_e6")))
    w = Window.orderBy(F.col("lift_e6").desc(), "token")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 15)
            .select("token", "df_feedback", "df_global", "lift_e6",
                    F.col("rank").cast("int").alias("rank")))


_PADDING_WASTE_SQL = """
WITH t AS (
  SELECT len(list_filter(string_split(text, ' '), w -> w <> '')) AS tok
  FROM documents
), b AS (
  SELECT least(tok // 128, 8) AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tok) AS BIGINT) AS total_tokens,
         CAST(sum(((tok + 511) // 512) * 512) AS BIGINT) AS padded_tokens
  FROM t WHERE tok > 0 GROUP BY 1
)
SELECT CAST(bucket AS INTEGER) AS bucket, n_docs, total_tokens,
       padded_tokens,
       CAST((padded_tokens - total_tokens) * 1000000 // padded_tokens
            AS BIGINT) AS waste_e6
FROM b
"""


@register("data_padding_waste", _PADDING_WASTE_SQL)
def data_padding_waste(spark, sf_dir):
    """Padding-waste audit for fixed-length (512) training batches: per
    document-length bucket, real tokens vs pad-to-multiple-of-512 tokens
    and the wasted fraction (exact e6) — the number that justifies
    sequence packing (operators/packing.pack_sequences removes exactly
    this waste; this query quantifies what naive padding would burn).
    One scan, one small aggregate."""
    d = _t(spark, sf_dir, "documents")
    tok = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    t = d.select(tok.alias("tok")).filter(F.col("tok") > 0)
    b = (t.groupBy(F.least(F.expr("tok div 128"), F.lit(8))
                   .cast("int").alias("bucket"))
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.sum("tok").cast("long").alias("total_tokens"),
              F.sum(F.expr("((tok + 511) div 512) * 512")).cast("long")
              .alias("padded_tokens")))
    return b.select(
        "bucket", "n_docs", "total_tokens", "padded_tokens",
        F.expr("CAST((padded_tokens - total_tokens) * 1000000"
               " div padded_tokens AS BIGINT)").alias("waste_e6"))


_TOKEN_ENTROPY_SQL = """
WITH tok AS (
  SELECT source, t AS tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents)
  WHERE t <> '' GROUP BY 1, 2
), tot AS (
  SELECT source, sum(c) AS n, count(*) AS vocab FROM tok GROUP BY 1
)
SELECT tok.source, CAST(tot.n AS BIGINT) AS n_tokens,
       CAST(tot.vocab AS BIGINT) AS vocab,
       round(-sum((CAST(tok.c AS DOUBLE) / tot.n)
                  * ln(CAST(tok.c AS DOUBLE) / tot.n)), 6) AS entropy_nats,
       round(-sum((CAST(tok.c AS DOUBLE) / tot.n)
                  * ln(CAST(tok.c AS DOUBLE) / tot.n))
             / ln(CAST(tot.vocab AS DOUBLE)), 6) AS norm_entropy
FROM tok JOIN tot USING (source)
GROUP BY tok.source, tot.n, tot.vocab
"""


@register("text_token_entropy", _TOKEN_ENTROPY_SQL)
def text_token_entropy(spark, sf_dir):
    """Per-source token-distribution Shannon entropy (and its
    vocab-normalized form) — the diversity signal that separates
    template/boilerplate sources (low H) from natural text, complementary
    to TTR (text_lexical_diversity measures breadth; entropy measures the
    SHAPE of reuse). Probabilities are exact rationals c/n evaluated on
    identical doubles; Σp·ln p is rounded to 6 dp, so both engines'
    logs of the same double agree. One token aggregate,
    vocabulary-bounded join."""
    d = _t(spark, sf_dir, "documents")
    tok = (d.select("source", F.explode(F.split("text", " ")).alias("t"))
           .filter(F.col("t") != "")
           .groupBy("source", "t")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    tot = tok.groupBy("source").agg(F.sum("c").alias("n"),
                                    F.count(F.lit(1)).alias("vocab"))
    p = F.col("c").cast("double") / F.col("n")
    return (tok.join(F.broadcast(tot), "source")
            .groupBy("source", "n", "vocab")
            .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
                 F.round(-F.sum(p * F.log(p))
                         / F.log(F.col("vocab").cast("double")), 6)
                 .alias("norm_entropy"))
            .select("source", F.col("n").cast("long").alias("n_tokens"),
                    F.col("vocab").cast("long").alias("vocab"),
                    "entropy_nats", "norm_entropy"))


_LANG_CONFUSION_SQL = r"""
WITH scored AS (
  SELECT lang,
    len(list_intersect(string_split_regex(lower(text), '\s+'),
        ['the','and','of','to','is'])) AS s_en,
    len(list_intersect(string_split_regex(lower(text), '\s+'),
        ['el','la','de','que','los'])) AS s_es,
    len(list_intersect(string_split_regex(lower(text), '\s+'),
        ['le','la','les','des','est'])) AS s_fr,
    len(list_intersect(string_split_regex(lower(text), '\s+'),
        ['der','die','und','das','ist'])) AS s_de,
    regexp_matches(text, '[一-鿿]') AS has_cjk
  FROM documents
), pred AS (
  SELECT lang AS actual,
    CASE WHEN has_cjk THEN 'zh'
         WHEN greatest(s_en, s_es, s_fr, s_de) > 0
              AND s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
         WHEN greatest(s_en, s_es, s_fr, s_de) > 0
              AND s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
         WHEN greatest(s_en, s_es, s_fr, s_de) > 0
              AND s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
         WHEN greatest(s_en, s_es, s_fr, s_de) > 0
              AND s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
         ELSE 'en' END AS predicted
  FROM scored
), cm AS (
  SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
), rt AS (SELECT actual, sum(n) AS row_total FROM cm GROUP BY 1)
SELECT cm.actual, cm.predicted, cm.n,
       CAST(rt.row_total AS BIGINT) AS row_total,
       CAST(cm.n * 1000000 // rt.row_total AS BIGINT) AS rate_e6
FROM cm JOIN rt USING (actual)
"""


@register("text_lang_confusion", _LANG_CONFUSION_SQL)
def text_lang_confusion(spark, sf_dir):
    """Classifier-evaluation confusion matrix for the stopword lang-ID
    heuristic (functions/text.lang_id) against the corpus's ground-truth
    lang column — per (actual, predicted) cell counts and the per-class
    rate (diagonal = recall), exact e6. The eval every quality gate needs
    before trusting a filter: text_lang_quality APPLIES the classifier,
    this query MEASURES it. One map-side scoring pass + a |langs|² cell
    aggregate."""
    from .functions.text import lang_id
    d = _t(spark, sf_dir, "documents")
    pred = d.select(F.col("lang").alias("actual"),
                    lang_id(F.col("text")).alias("predicted"))
    cm = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    rt = cm.groupBy("actual").agg(F.sum("n").alias("row_total"))
    return (cm.join(F.broadcast(rt), "actual")
            .select("actual", "predicted", "n",
                    F.col("row_total").cast("long").alias("row_total"),
                    F.expr("CAST(n * 1000000 div row_total AS BIGINT)")
                    .alias("rate_e6")))


_COS_HIST_SQL = """
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 16))
             AS UBIGINT) % 5 = 0
), p AS (
  SELECT least(CAST(floor(
           (list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v)))) * 10) AS BIGINT), 9)
             AS bucket
  FROM s a JOIN s b ON a.vec_id < b.vec_id
), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(*) * 1000000 // max(n.n) AS BIGINT) AS share_e6
FROM p CROSS JOIN n GROUP BY bucket
"""


@register("ann_cosine_histogram", _COS_HIST_SQL)
def ann_cosine_histogram(spark, sf_dir):
    """Embedding-space calibration: the distribution of pairwise cosines
    over a deterministic 20% md5 sample of vectors, bucketed by
    floor(cos·10) — the diagnostic that tells you whether a similarity
    threshold (dedup's 0.8, linking's 0.95) sits in the distribution's
    tail or its bulk, and whether the space has collapsed (all mass in
    one bucket). The SAMPLE bounds the quadratic term: n²/25 pairs by
    md5-selecting IDs before the join, never sampling pairs after; the
    cosine reuses the functions/vectors.cosine zip_with expression
    (identical doubles cross-engine, floor lands identically)."""
    from .functions.vectors import cosine
    embs = _t(spark, sf_dir, "embeddings")
    s = (embs.filter(F.expr(
            "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 16),"
            " 16, 10) AS DECIMAL(20,0)) % 5 = 0"))
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("v")))
    b = s.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"))
    p = (s.crossJoin(b).filter(F.col("vec_id") < F.col("id2"))
         .select(F.least(F.floor(cosine(F.col("v"), F.col("v2")) * 10)
                         .cast("long"), F.lit(9)).alias("bucket")))
    n = p.agg(F.count(F.lit(1)).alias("n"))
    return (p.groupBy("bucket").agg(F.count(F.lit(1)).cast("long")
                                    .alias("n_pairs"))
            .crossJoin(F.broadcast(n))
            .select(F.col("bucket").cast("int").alias("bucket"), "n_pairs",
                    F.expr("CAST(n_pairs * 1000000 div n AS BIGINT)")
                    .alias("share_e6")))


_LSH_CONFIGS = ((2, 32), (4, 16), (8, 8), (16, 4))


def _pow_chain(var: str, n: int) -> str:
    """Explicit power-by-squaring multiply chain as an expression STRING —
    the same string runs in Spark SQL and DuckDB, and because every step
    is a plain IEEE double multiply (no pow(), whose last ulp is
    libm-dependent), both engines produce bit-identical doubles."""
    if n == 1:
        return var
    half = _pow_chain(var, n // 2)
    sq = f"({half} * {half})"
    return f"({sq} * {var})" if n % 2 else sq


def _lsh_tuning_sql() -> str:
    selects = []
    for r, b in _LSH_CONFIGS:
        p1 = _pow_chain("(CAST(j AS DOUBLE) / 100.0)", r)
        miss = _pow_chain(f"(1.0 - {p1})", b)
        selects.append(
            f"SELECT CAST(j AS INTEGER) AS jaccard_pct, {r} AS rows_per_band,"
            f" {b} AS n_bands,"
            f" round(1.0 - {miss}, 6) AS p_detect"
            f" FROM range(5, 100, 5) t(j)")
    return ("SELECT jaccard_pct, CAST(rows_per_band AS INTEGER)"
            " AS rows_per_band, CAST(n_bands AS INTEGER) AS n_bands,"
            " p_detect FROM (" + " UNION ALL ".join(selects) + ")")


@register("dedup_lsh_tuning_curve", _lsh_tuning_sql())
def dedup_lsh_tuning_curve(spark, sf_dir):
    """MinHash-LSH parameter-tuning table: the detection s-curve
    P(candidate) = 1 − (1 − J^r)^b over a Jaccard grid for the four
    64-hash band layouts — the design tool that picks (r, b) for a target
    near-dup threshold BEFORE a 100 TB dedup run (operators/dedup's
    default 16×4 vs the alternatives, false-positive tail vs recall
    cliff). Every power is an explicit power-by-squaring MULTIPLY CHAIN
    generated once and run verbatim on both engines — plain IEEE double
    multiplies are bit-exact cross-engine where pow()'s last ulp is not.
    Pure computation: a 19-row range × 4 configs, no table scan."""
    grid = spark.range(1, 20).select((F.col("id") * 5).cast("int")
                                     .alias("jaccard_pct"))
    parts = []
    for r, b in _LSH_CONFIGS:
        p1 = _pow_chain("(CAST(jaccard_pct AS DOUBLE) / 100.0)", r)
        miss = _pow_chain(f"(1.0 - {p1})", b)
        parts.append(grid.select(
            "jaccard_pct",
            F.lit(r).cast("int").alias("rows_per_band"),
            F.lit(b).cast("int").alias("n_bands"),
            F.expr(f"round(1.0 - {miss}, 6)").alias("p_detect")))
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


_SQUARES_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), bd AS (
  SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e
), codeg AS (
  SELECT e1.x AS u, e2.x AS w, CAST(count(*) AS HUGEINT) AS cn
  FROM bd e1 JOIN bd e2 ON e2.z = e1.z AND e1.x < e2.x
  GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN cn >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pairs_cn2,
       CAST(sum(cn * (cn - 1) // 2) AS BIGINT) AS sum_c2,
       CAST(sum(cn * (cn - 1) // 2) // 2 AS BIGINT) AS n_squares
FROM codeg
"""


@register("kg_squares_docs", _SQUARES_SQL)
def kg_squares_docs(spark, sf_dir):
    """4-cycle (square) census of the documents co-occurrence graph — the
    next motif after triangles (kg_triangles_docs /
    kg_transitivity_docs): each square is determined by a diagonal pair
    plus 2 of their common neighbors, so #C₄ = Σ_{{u<w}} C(codeg,2) / 2
    (every square has exactly 2 diagonals — the sum is always even). The
    co-degree table is ONE wedge self-join on the shared neighbor (the
    Adamic-Adar/link-prediction join shape, graph_algos.adamic_adar) —
    never path enumeration. Exact integers throughout."""
    edges = _cooc_edges(spark, sf_dir)
    bd = (edges.select(F.col("term_a").alias("z"), F.col("term_b").alias("x"))
          .union(edges.select(F.col("term_b"), F.col("term_a"))))
    e2 = bd.select(F.col("z").alias("z2"), F.col("x").alias("x2"))
    codeg = (bd.join(e2, (F.col("z2") == F.col("z"))
                     & (F.col("x") < F.col("x2")))
             .groupBy("x", "x2")
             .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cn")))
    return codeg.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.col("cn") >= 2).cast("int")).cast("long")
        .alias("n_pairs_cn2"),
        F.sum(F.expr("cn * (cn - 1) div 2")).cast("long").alias("sum_c2"),
        F.expr("CAST(sum(cn * (cn - 1) div 2) div 2 AS BIGINT)")
        .alias("n_squares"))


_SHARD_MANIFEST_SQL = """
WITH c AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id) - n_chars AS start_chars
  FROM documents
), s AS (
  SELECT start_chars // 50000 AS shard, doc_id, n_chars FROM c
)
SELECT CAST(shard AS INTEGER) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM s GROUP BY 1
"""


@register("data_shard_manifest", _SHARD_MANIFEST_SQL)
def data_shard_manifest(spark, sf_dir):
    """Output-shard planning: contiguous ~50 KB shards by cumulative char
    budget in doc_id order (a doc starts a new shard when its START
    offset crosses the boundary — deterministic, no doc ever splits),
    emitting the manifest (doc range, docs, bytes per shard) a writer
    fans out over. The running sum here is a single window over docs;
    the production-scale variant is the two-phase bucketed running sum
    text_domain_budget uses (partial sums per bucket, broadcast prefix) —
    same arithmetic, noted per that query's plan guard."""
    d = _t(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select("doc_id", "n_chars",
                 (F.sum("n_chars").over(w) - F.col("n_chars"))
                 .alias("start_chars"))
    return (c.groupBy(F.expr("start_chars div 50000").cast("int")
                      .alias("shard"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("n_chars"),
                 F.min("doc_id").cast("long").alias("first_doc"),
                 F.max("doc_id").cast("long").alias("last_doc")))


_REACHABILITY_SQL = f"""
WITH comp AS ({_components_sql(330)})
, sizes AS (
  SELECT canon, CAST(count(*) AS HUGEINT) AS sz
  FROM comp GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_components,
       CAST(sum(sz) AS BIGINT) AS n_nodes,
       CAST(max(sz) AS BIGINT) AS largest,
       CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS reachable_pairs,
       CAST(sum(sz * (sz - 1) // 2) * 1000000
            // (sum(sz) * (sum(sz) - 1) // 2) AS BIGINT)
           AS connectivity_e6
FROM sizes
"""


@register("kg_reachability_docs", _REACHABILITY_SQL)
def kg_reachability_docs(spark, sf_dir):
    """Reachability summary of the sparsified co-occurrence graph: via the
    REAL distributed connected-components operator
    (canonicalize.connected_components, large-star/small-star), component
    sizes collapse to reachable-pair count ΣC(sz,2) and the connectivity
    ratio (reachable pairs / all pairs, exact e6) — the 'how fragmented
    is the graph' number that decides whether graph-wide algorithms are
    even meaningful, at the cost of a components run plus ONE size
    aggregate (never pairwise BFS)."""
    from .operators.canonicalize import connected_components
    edges = _cooc_edges(spark, sf_dir, 330)
    comp = connected_components(
        edges.select(F.col("term_a").alias("src"),
                     F.col("term_b").alias("dst")),
        driver_threshold=0)
    sizes = comp.groupBy("canon").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("sz"))
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum("sz").cast("long").alias("n_nodes"),
        F.max("sz").cast("long").alias("largest"),
        F.sum(F.expr("sz * (sz - 1) div 2")).cast("long")
        .alias("reachable_pairs"),
        F.expr("CAST(sum(sz * (sz - 1) div 2) * 1000000"
               " div (sum(sz) * (sum(sz) - 1) div 2) AS BIGINT)")
        .alias("connectivity_e6"))


_KWIC_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), hit AS (
  SELECT doc_id, ws, list_position(ws, 'vector') AS p
  FROM w WHERE list_position(ws, 'vector') IS NOT NULL
     AND list_position(ws, 'vector') > 0
)
SELECT doc_id, CAST(p AS INTEGER) AS pos,
       array_to_string(ws[greatest(p - 3, 1):p + 3], ' ') AS snippet
FROM hit
"""


@register("search_kwic_snippets", _KWIC_SQL)
def search_kwic_snippets(spark, sf_dir):
    """KWIC (keyword-in-context) snippet generation for the query term
    'vector': first-occurrence position plus a ±3-token window joined
    back to a display string — what a search UI renders under each
    BM25 hit (search_bm25 ranks; this excerpts). Pure array expressions
    (array_position + slice) on the tokenized doc — no postings join, no
    explode: snippeting is a map-side operation over the hit set at any
    scale."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    hit = (d.select("doc_id", ws.alias("ws"),
                    F.array_position(ws, "vector").alias("p"))
           .filter(F.col("p") > 0))
    start = F.greatest(F.col("p") - 3, F.lit(1))
    length = (F.col("p") + 3 - start + 1).cast("int")
    return hit.select(
        "doc_id", F.col("p").cast("int").alias("pos"),
        F.array_join(F.slice("ws", start, length), " ").alias("snippet"))


_CURRICULUM_SQL = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS tok
  FROM documents
), ph AS (
  SELECT doc_id, tok, ntile(3) OVER (ORDER BY tok, doc_id) AS phase
  FROM t
)
SELECT CAST(phase AS INTEGER) AS phase,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(min(tok) AS BIGINT) AS min_tokens,
       CAST(max(tok) AS BIGINT) AS max_tokens
FROM ph GROUP BY 1
"""


@register("data_curriculum_phases", _CURRICULUM_SQL)
def data_curriculum_phases(spark, sf_dir):
    """Length-based curriculum schedule: docs dealt into 3 training phases
    by token count (short→long, the standard sequence-length curriculum
    that also packs efficiently early), ntile over a deterministic
    (tokens, doc_id) order — phase sizes differ by at most one. The
    manifest (docs / tokens / length range per phase) is what the
    training loop consumes. A global ntile over docs; at catalog scale
    the same phases come from the two-phase bucketed rank
    (text_domain_budget plan), as with every global-order query here."""
    d = _t(spark, sf_dir, "documents")
    tok = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    t = d.select("doc_id", tok.cast("long").alias("tok"))
    ph = t.select("tok", F.ntile(3).over(
        Window.orderBy("tok", "doc_id")).cast("int").alias("phase"))
    return (ph.groupBy("phase")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("tok").cast("long").alias("total_tokens"),
                 F.min("tok").cast("long").alias("min_tokens"),
                 F.max("tok").cast("long").alias("max_tokens")))


_RAKE_STOPWORDS = ("the", "a", "of", "to", "and", "is", "in", "that")

_RAKE_SQL = f"""
WITH tok AS (
  SELECT doc_id, u.pos AS pos, u.w AS w
  FROM (SELECT doc_id,
               unnest([{{'pos': i, 'w': ws[i]}}
                       FOR i IN range(1, len(ws) + 1)]) AS u
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents))
  WHERE u.w <> ''
), content AS (
  SELECT doc_id, pos, w,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM tok
  WHERE w NOT IN ({', '.join(repr(s) for s in _RAKE_STOPWORDS)})
), phrases AS (
  SELECT doc_id, grp,
         array_to_string(list(w ORDER BY pos), ' ') AS phrase,
         list(w ORDER BY pos) AS words,
         count(*) AS plen
  FROM content GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND 4
), occur AS (
  SELECT phrase, unnest(words) AS w, plen FROM phrases
), wstats AS (
  SELECT w, CAST(sum(plen) AS HUGEINT) AS deg,
         CAST(count(*) AS HUGEINT) AS freq
  FROM occur GROUP BY 1
), cnt AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences FROM phrases
  GROUP BY 1
), scored AS (
  SELECT o.phrase,
         CAST(sum(ws.deg * 1000000 // ws.freq)
              // max(c.n_occurrences) AS BIGINT) AS score_e6,
         CAST(count(*) // max(c.n_occurrences) AS BIGINT) AS n_words
  FROM occur o JOIN wstats ws ON ws.w = o.w
  JOIN cnt c ON c.phrase = o.phrase
  GROUP BY o.phrase
)
SELECT s.phrase, s.score_e6, c.n_occurrences,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY score_e6 DESC, phrase) AS rank
      FROM scored) s JOIN cnt c USING (phrase)
WHERE rank <= 15
"""


@register("text_rake_keywords", _RAKE_SQL)
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010 — the stopword-delimited
    complement to text_textrank_keywords's graph ranking): candidate
    phrases are maximal stopword-free runs of 2-4 tokens (island grouping:
    pos − rank over content tokens), each word scores deg/freq (deg =
    Σ phrase-length over its occurrences), a phrase TYPE scores the sum of its
    words' ratios (the per-occurrence sums are identical, so the
    occurrence-sum divides back out exactly) — every ratio floored at e6
    BEFORE summing, so the score is an exact integer on both engines. Top-15 phrases. One
    posexplode + two vocabulary-bounded aggregates; phrase assembly is
    order-pinned (list(... ORDER BY pos) / sorted collect)."""
    d = _t(spark, sf_dir, "documents")
    tok = (d.select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("pos", "w"))
           .filter(F.col("w") != ""))
    content = (tok.filter(~F.col("w").isin(*_RAKE_STOPWORDS))
               .withColumn("grp", F.col("pos") - F.row_number().over(
                   Window.partitionBy("doc_id").orderBy("pos"))))
    phrases = (content.groupBy("doc_id", "grp")
               .agg(F.array_join(
                       F.transform(F.array_sort(F.collect_list(
                           F.struct("pos", "w"))), lambda s: s.w), " ")
                    .alias("phrase"),
                    F.transform(F.array_sort(F.collect_list(
                        F.struct("pos", "w"))), lambda s: s.w)
                    .alias("words"),
                    F.count(F.lit(1)).alias("plen"))
               .filter((F.col("plen") >= 2) & (F.col("plen") <= 4)))
    occur = phrases.select("phrase", F.explode("words").alias("w"), "plen")
    wstats = occur.groupBy("w").agg(
        F.sum("plen").cast("decimal(38,0)").alias("deg"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("freq"))
    cnt = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    scored = (occur.join(wstats, "w").join(cnt, "phrase")
              .groupBy("phrase")
              .agg(F.expr("CAST(sum(deg * 1000000 div freq)"
                          " div max(n_occurrences) AS BIGINT)")
                   .alias("score_e6"),
                   F.expr("CAST(count(1) div max(n_occurrences) AS BIGINT)")
                   .alias("n_words")))
    w = Window.orderBy(F.col("score_e6").desc(), "phrase")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 15)
            .join(cnt, "phrase")
            .select("phrase", "score_e6", "n_occurrences",
                    F.col("rank").cast("int").alias("rank")))


def _ico_fixture_sql(n: int = 18, seed: int = 42) -> str:
    """Oracle for ICO directory extraction: the same formula entry list
    the fixture encoder uses (sources/multimodal.ico_fixture_entries),
    with bytes_in_res recomputed from the same payload builders — pure
    shared-formula VALUES, the multimodal-fixture discipline."""
    from .sources.multimodal import (_ico_bmp_image, _ico_png_image,
                                     ico_fixture_entries)
    rows = []
    for i in range(n):
        for e, (w, h, bpp, kind) in enumerate(ico_fixture_entries(i, seed)):
            img = (_ico_png_image(w, h) if kind == "png"
                   else _ico_bmp_image(w, h, bpp))
            rows.append(f"({i}, {e}, {w}, {h}, {bpp}, '{kind}', {len(img)})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(entry AS INTEGER) AS entry,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(bpp AS INTEGER) AS bpp, kind,"
            f" CAST(bytes_in_res AS BIGINT) AS bytes_in_res"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, entry, width, height, bpp, kind, bytes_in_res)")


@register("multimodal_ico_entries", _ico_fixture_sql())
def multimodal_ico_entries(spark, sf_dir):
    """ICO (favicon/icon-bundle) directory extraction: a REAL ICONDIR +
    ICONDIRENTRY walk with payload sniffing — PNG entries read dims from
    IHDR (overriding the 1-byte directory fields, which is how >255px
    icons are stored), BMP entries halve the ICO-convention doubled
    biHeight (sources/multimodal.parse_ico). One mapInPandas row per
    icon entry; joins the PNG/GIF/JPEG/BMP/TIFF/WEBP/WAV/MP4/PDF/EPUB
    codec set as the web-crawl favicon path."""
    from .sources.multimodal import extract_ico_entries, synthetic_ico_media
    return extract_ico_entries(synthetic_ico_media(spark, 18))


def _pq_distortion_fixture_sql() -> str:
    """PQ-distortion oracle — the same single-process-fixture technique as
    ann_pq_topk (scripts/gen_ivf_fixture.py:pq_distortion_single_process),
    scale-keyed by the events-count probe."""
    from .ivf_fixture import PQ_DISTORTION
    vals = ", ".join(
        f"({_SF_EVENT_ROWS[sf]}, {j}, {n}, {s}, {a})"
        for sf, rows in PQ_DISTORTION.items() if sf in _SF_EVENT_ROWS
        for j, n, s, a in rows)
    return (f"SELECT CAST(subspace AS INTEGER) AS subspace,"
            f" CAST(n_vectors AS BIGINT) AS n_vectors,"
            f" CAST(sum_d2_e6 AS BIGINT) AS sum_d2_e6,"
            f" CAST(avg_d2_e6 AS BIGINT) AS avg_d2_e6"
            f" FROM (VALUES {vals})"
            f" t(ev, subspace, n_vectors, sum_d2_e6, avg_d2_e6)"
            f" WHERE ev = (SELECT count(*) FROM events)")


@register("ann_pq_distortion", _pq_distortion_fixture_sql())
def ann_pq_distortion(spark, sf_dir):
    """Per-subspace PQ quantization-error report
    (operators/similarity.pq_distortion) for the exact codebooks
    ann_pq_topk scores with — the compressed-index quality gauge (a
    subspace with outsized average error needs more codes or a rotation
    before the index ships). Exact fixed-point aggregation of the
    operator's own 6-dp assignment distances; oracle is the
    single-process Python mirror."""
    from .operators.similarity import pq_distortion
    embs = _t(spark, sf_dir, "embeddings")
    return pq_distortion(embs, m=16, n_codes=16)


_EDIT_DIST_SQL = """
WITH d AS (
  SELECT doc_id, lang, substr(text, 1, 32) AS p FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS blk,
       CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(length(a.p) - length(b.p)) <= 4
WHERE levenshtein(a.p, b.p) <= 4
"""


@register("dedup_edit_distance_docs", _EDIT_DIST_SQL)
def dedup_edit_distance_docs(spark, sf_dir):
    """Edit-distance near-dup join: all same-lang document pairs whose
    32-char prefixes are within Levenshtein distance 4 — the typo/OCR-jitter
    duplicate tier that shingle Jaccard under-weights. The Spark plan is the
    exact positional-q-gram prefix filter (operators/dedup.edit_distance_pairs:
    rare-(gram,occ) prefix join, never O(n²) per block) + JVM levenshtein
    verify; the oracle is the brute within-lang join. Both engines implement
    textbook Levenshtein, so the verify distances match exactly."""
    from .operators.dedup import edit_distance_pairs
    d = _t(spark, sf_dir, "documents")
    return edit_distance_pairs(d, max_dist=4, prefix_len=32, q=2)


_JSD_SQL = """
WITH tok AS (
  SELECT source, t AS word, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tok GROUP BY 1
), pairs AS (
  SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
  FROM tot a JOIN tot b ON a.source < b.source
), wp AS (
  SELECT p.sa, p.na, p.sb, p.nb, t.word
  FROM pairs p JOIN tok t ON t.source = p.sa OR t.source = p.sb
  GROUP BY 1, 2, 3, 4, 5
), u AS (
  SELECT wp.sa, wp.sb,
         CAST(coalesce(ca.c, 0) AS DOUBLE) / wp.na AS p,
         CAST(coalesce(cb.c, 0) AS DOUBLE) / wp.nb AS q
  FROM wp
  LEFT JOIN tok ca ON ca.source = wp.sa AND ca.word = wp.word
  LEFT JOIN tok cb ON cb.source = wp.sb AND cb.word = wp.word
)
SELECT sa AS source_a, sb AS source_b,
       CAST(count(*) AS BIGINT) AS n_words_union,
       CAST(sum(CAST(floor(
         ((CASE WHEN p > 0
                THEN (0.5 * p) * ln((2.0 * p) / (p + q)) ELSE 0.0 END)
          + (CASE WHEN q > 0
                  THEN (0.5 * q) * ln((2.0 * q) / (p + q)) ELSE 0.0 END))
         * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS jsd_e9
FROM u GROUP BY 1, 2
"""


@register("text_js_divergence", _JSD_SQL)
def text_js_divergence(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the symmetric, bounded information-theoretic distance
    that complements text_source_tv_matrix's total variation (TV weighs
    all mass equally; JSD up-weights disagreement on confident words) for
    deciding which sources to mix or down-weight. Probabilities are exact
    rationals cast to one IEEE double; each word's JSD term is e9-rounded
    and exact-summed, so both engines' logs of the same double agree.
    Spark side builds one word→{source:count} map and broadcasts the
    source-pair list, so the shuffle is one vocabulary groupBy."""
    d = _t(spark, sf_dir, "documents")
    tok = (d.select("source", F.explode(F.split("text", " ")).alias("word"))
           .filter(F.col("word") != "")
           .groupBy("source", "word")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    tot = tok.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    ta, tb = tot.alias("ta"), tot.alias("tb")
    pairs = (ta.join(tb, F.col("ta.source") < F.col("tb.source"))
             .select(F.col("ta.source").alias("sa"),
                     F.col("ta.n").alias("na"),
                     F.col("tb.source").alias("sb"),
                     F.col("tb.n").alias("nb")))
    wmap = (tok.groupBy("word")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("source", "c"))).alias("m")))
    u = (wmap.crossJoin(F.broadcast(pairs))
         .select("sa", "sb",
                 (F.coalesce(F.element_at("m", F.col("sa")), F.lit(0))
                  .cast("double") / F.col("na")).alias("p"),
                 (F.coalesce(F.element_at("m", F.col("sb")), F.lit(0))
                  .cast("double") / F.col("nb")).alias("q"))
         .filter((F.col("p") > 0) | (F.col("q") > 0)))
    kl1 = F.when(F.col("p") > 0,
                 (F.lit(0.5) * F.col("p"))
                 * F.log((F.lit(2.0) * F.col("p"))
                         / (F.col("p") + F.col("q")))).otherwise(F.lit(0.0))
    kl2 = F.when(F.col("q") > 0,
                 (F.lit(0.5) * F.col("q"))
                 * F.log((F.lit(2.0) * F.col("q"))
                         / (F.col("p") + F.col("q")))).otherwise(F.lit(0.0))
    return (u.groupBy(F.col("sa").alias("source_a"),
                      F.col("sb").alias("source_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_words_union"),
                 F.sum(F.floor((kl1 + kl2) * 1000000000 + F.lit(0.5))
                       .cast("long")).cast("long").alias("jsd_e9")))


def _tga_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the REAL TGA decode path: pixels are pure formulas of
    (x, y, id) (sources/multimodal.synthetic_tga_media), so expected channel
    means are recomputed here in plain Python without touching Targa bytes —
    a wrong RLE packet, a missed bottom-up origin flip or a BGR/RGB swap
    flips the hash."""
    rows = []
    for i in range(n):
        w = 12 + (i * 5 + seed) % 15
        h = 10 + (i * 7 + seed) % 11
        rs = gs = bs = 0
        for y in range(h):
            for x in range(w):
                rs += ((x // 5) * 7 + y * 3 + i) % 256
                gs += ((x // 3) + y * 2 + i * 11) % 256
                bs += (x + (y // 2) * 5 + i * 3) % 256
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_tga_features", _tga_fixture_sql())
def multimodal_tga_features(spark, sf_dir):
    """REAL Truevision TGA decode end to end inside mapInPandas
    (sources/multimodal.decode_tga): 24-bit raw (type 2) and run-length
    encoded (type 10) payloads, top-down and legacy bottom-up row order,
    footer detection — stdlib + numpy only."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_tga_media,
    )
    return extract_image_features_real(synthetic_tga_media(spark, 30)) \
        .select("media_id", "width", "height",
                "r_mean", "g_mean", "b_mean")


def _g711_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the REAL G.711 μ-law WAV path: the fixture tones are pure
    formulas of (id, t), and the companding round-trip is re-derived here
    with an INDEPENDENT pure-Python int implementation (bit_length segment
    search vs the numpy searchsorted in sources/multimodal.ulaw_compress) —
    so a wrong bias, segment edge, mantissa shift or RIFF fact-chunk walk
    flips the hash. Sums of squares are exact ints; rms/duration are single
    float divisions, identical doubles in any engine."""
    import math

    def compress(v: int) -> int:
        sign = 0x80 if v < 0 else 0
        u = min(abs(v), 32635) + 0x84
        seg = (u >> 7).bit_length() - 1
        return ~(sign | (seg << 4) | ((u >> (seg + 3)) & 0x0F)) & 0xFF

    def expand(c: int) -> int:
        ui = ~c & 0xFF
        seg = (ui >> 4) & 0x07
        t = ((((ui & 0x0F) << 3) | 0x84) << seg) - 0x84
        return -t if ui & 0x80 else t

    rows = []
    for i in range(n):
        rate = 8000
        ns = 320 + (i % 4) * 60
        freq = 180.0 + (i * 53 + seed) % 500
        x = [expand(compress(int(
            math.sin(2 * math.pi * freq * t / rate) * 15000)))
            for t in range(ns)]
        s2 = sum(v * v for v in x)
        rms = math.sqrt(s2 / ns)
        zc = sum(1 for a, b in zip(x[:-1], x[1:]) if (a < 0) != (b < 0))
        rows.append(f"({i}, {rate}, {ns}, {ns / rate!r}, {rms!r}, {zc})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(sample_rate AS INTEGER) AS sample_rate,"
            f" CAST(n_samples AS BIGINT) AS n_samples,"
            f" CAST(duration_s AS DOUBLE) AS duration_s,"
            f" CAST(rms AS DOUBLE) AS rms,"
            f" CAST(zero_crossings AS BIGINT) AS zero_crossings"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, sample_rate, n_samples, duration_s, rms,"
            f" zero_crossings)")


@register("multimodal_g711_features", _g711_fixture_sql())
def multimodal_g711_features(spark, sf_dir):
    """REAL G.711 μ-law telephony WAV decode end to end: format-7 RIFF
    bytes (18-byte fmt + fact chunk) walked manually and expanded through
    the companding inverse (sources/multimodal.decode_wav / ulaw_expand),
    features checked against an independent pure-Python companding
    re-derivation in the oracle."""
    from .sources.multimodal import (
        extract_audio_features,
        synthetic_g711_media,
    )
    out = extract_audio_features(synthetic_g711_media(spark, 24))
    return out.select("media_id",
                      F.col("sample_rate").cast("int").alias("sample_rate"),
                      F.col("n_samples").cast("long").alias("n_samples"),
                      "duration_s", "rms",
                      F.col("zero_crossings").cast("long")
                      .alias("zero_crossings"))


_DAMERAU_SQL = """
WITH d AS (
  SELECT doc_id, lang, substr(text, 1, 24) AS p FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS blk,
       CAST(damerau_levenshtein(a.p, b.p) AS BIGINT) AS dl_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(length(a.p) - length(b.p)) <= 3
WHERE damerau_levenshtein(a.p, b.p) <= 3
"""


@register("dedup_damerau_docs", _DAMERAU_SQL)
def dedup_damerau_docs(spark, sf_dir):
    """Transposition-aware near-dup join: same-lang document pairs whose
    24-char prefixes are within TRUE Damerau-Levenshtein distance 3 —
    adjacent-character swaps (the dominant human typo class) cost 1 here
    where plain Levenshtein charges 2, so this tier catches swapped-typo
    duplicates dedup_edit_distance_docs over-prices. Spark plan:
    positional q-gram prefix filter with the transposition-adjusted
    k·(q+1) budget (operators/dedup.damerau_pairs) + exact Lowrance-Wagner
    DP verify in an Arrow-batched pandas UDF; oracle: brute within-lang
    join on DuckDB's native damerau_levenshtein (independent C++
    implementation of the same true-DL definition — integer distances
    match exactly)."""
    from .operators.dedup import damerau_pairs
    d = _t(spark, sf_dir, "documents")
    return damerau_pairs(d, max_dist=3, prefix_len=24, q=2)


_JW_PARTS_SQL = """
WITH d AS (
  SELECT p_partkey AS id, p_brand AS brand,
         split_part(p_name, ' ', 1) AS tok0, p_name AS nm,
         length(p_name) AS ln
  FROM part WHERE length(p_name) > 0
)
SELECT a.id AS id_a, b.id AS id_b, a.brand AS brand, a.tok0 AS tok0,
       jaro_winkler_similarity(a.nm, b.nm) AS jw
FROM d a JOIN d b
  ON a.brand = b.brand AND a.tok0 = b.tok0 AND a.id < b.id
WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.92
"""


@register("q_part_name_jw_match", _JW_PARTS_SQL)
def q_part_name_jw_match(spark, sf_dir):
    """Record-linkage fuzzy name match over the part catalog: pairs in the
    same (brand, first-name-token) block whose full names score
    Jaro-Winkler ≥ 0.92 — Winkler's census-ER scorer, the right metric
    where names drift by suffix words rather than random edits. Spark plan
    is a blocked equi-join + exact length-band prefilter + Arrow-batched
    JW scoring (operators/dedup.jaro_winkler_pairs); the oracle scores the
    same blocked join with DuckDB's NATIVE jaro_winkler_similarity — two
    independent implementations of the standard constants (0.1 scaling,
    4-char prefix cap, 0.7 boost threshold) produce bit-identical float64,
    so the value hash compares raw doubles, not rounded ones."""
    from .operators.dedup import jaro_winkler_pairs
    p = _t(spark, sf_dir, "part")
    names = (p.select(F.col("p_partkey").alias("id"),
                      F.col("p_brand").alias("brand"),
                      F.split_part(F.col("p_name"), F.lit(" "), F.lit(1))
                      .alias("tok0"),
                      F.col("p_name").alias("name")))
    return jaro_winkler_pairs(names, threshold=0.92,
                              block_cols=("brand", "tok0"))


def _qoi_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the REAL QOI decode path: pixels are pure formulas of
    (x, y, id) (sources/multimodal.synthetic_qoi_media), so expected
    channel means are recomputed here in plain Python with no QOI bytes —
    one wrong DIFF bias, LUMA nibble, RUN length or index-hash slot flips
    the hash."""
    rows = []
    for i in range(n):
        w = 13 + (i * 5 + seed) % 12
        h = 11 + (i * 7 + seed) % 10
        rs = gs = bs = 0
        for y in range(h):
            for x in range(w):
                rs += (x + y + i) % 256
                gs += ((x // 6) * 40 + i * 11) % 256
                bs += ((x % 4) * 61 + (y % 3) * 97 + i) % 256
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_qoi_features", _qoi_fixture_sql())
def multimodal_qoi_features(spark, sf_dir):
    """REAL QOI (Quite OK Image, qoiformat.org) decode end to end inside
    mapInPandas: INDEX/DIFF/LUMA/RUN/literal ops, the 64-slot color hash,
    wrap-around u8 arithmetic, RGB and RGBA payloads
    (sources/multimodal.decode_qoi) — stdlib + numpy only."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_qoi_media,
    )
    return extract_image_features_real(synthetic_qoi_media(spark, 30)) \
        .select("media_id", "width", "height",
                "r_mean", "g_mean", "b_mean")


def _eigencentrality_sql(n_iters: int = 5, scale: int = 10**6,
                         min_cooc: int = 322) -> str:
    """Eigenvector-centrality oracle: the operator's exact integer power
    iteration (long neighbor sums + renormalize-to-scale floor division,
    all operands positive so Spark `div` == DuckDB `//`) unrolled one CTE
    pair per iteration over the bidirected sparsified co-occurrence
    graph."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e
),
x0 AS MATERIALIZED (SELECT DISTINCT z, CAST({scale} AS BIGINT) AS s
                    FROM bd)"""
    steps = []
    for i in range(1, n_iters + 1):
        steps.append(f""",
r{i} AS MATERIALIZED (
  SELECT bd.z, sum(x.s) AS raw
  FROM bd JOIN x{i - 1} x ON x.z = bd.x GROUP BY bd.z),
x{i} AS MATERIALIZED (
  SELECT z, (raw * {scale}) // t.t AS s
  FROM r{i}, (SELECT sum(raw) AS t FROM r{i}) t)""")
    return head + "".join(steps) + f"""
SELECT z AS node, CAST(s AS BIGINT) AS score_e6 FROM x{n_iters}"""


@register("kg_eigencentrality_docs", _eigencentrality_sql())
def kg_eigencentrality_docs(spark, sf_dir):
    """Eigenvector centrality (operators/graph_algos.eigencentrality_scaled)
    of the sparsified term co-occurrence graph — the influence measure
    PageRank's damping hides and degree misses: a term scores high when
    its NEIGHBORS score high, so mass concentrates on the graph's dense
    core. Fixed-point integer power iteration (5 rounds) ⇒ bit-identical
    to the unrolled SQL recurrence regardless of partitioning."""
    from .operators.graph_algos import eigencentrality_scaled
    edges = _cooc_edges(spark, sf_dir, 322)
    return eigencentrality_scaled(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"))


def _audio_feature_values_sql(rows: list) -> str:
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(sample_rate AS INTEGER) AS sample_rate,"
            f" CAST(n_samples AS BIGINT) AS n_samples,"
            f" CAST(duration_s AS DOUBLE) AS duration_s,"
            f" CAST(rms AS DOUBLE) AS rms,"
            f" CAST(zero_crossings AS BIGINT) AS zero_crossings"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, sample_rate, n_samples, duration_s, rms,"
            f" zero_crossings)")


def _alaw_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the REAL G.711 A-law WAV path: tones are pure formulas
    of (id, t) and the companding round-trip is re-derived with an
    INDEPENDENT pure-Python int implementation (bit_length segment search
    vs the numpy searchsorted in sources/multimodal.alaw_compress) — a
    wrong segment edge, mantissa shift, XOR mask or sign convention flips
    the hash."""
    import math

    def compress(v: int) -> int:
        mask = 0xD5 if v >= 0 else 0x55
        a = min(abs(v), 0x7FFF)
        if a < 256:
            code = a >> 4
        else:
            seg = (a >> 8).bit_length()
            code = (seg << 4) | ((a >> (seg + 3)) & 0x0F)
        return (code ^ mask) & 0xFF

    def expand(c: int) -> int:
        ui = c ^ 0x55
        seg = (ui >> 4) & 0x07
        mant = ui & 0x0F
        t = (mant << 4) + 8 if seg == 0 else ((mant << 4) + 0x108) << (seg - 1)
        return t if ui & 0x80 else -t

    rows = []
    for i in range(n):
        rate = 8000
        ns = 300 + (i % 4) * 70
        freq = 190.0 + (i * 59 + seed) % 480
        x = [expand(compress(int(
            math.sin(2 * math.pi * freq * t / rate) * 14000)))
            for t in range(ns)]
        s2 = sum(v * v for v in x)
        rms = math.sqrt(s2 / ns)
        zc = sum(1 for a, b in zip(x[:-1], x[1:]) if (a < 0) != (b < 0))
        rows.append(f"({i}, {rate}, {ns}, {ns / rate!r}, {rms!r}, {zc})")
    return _audio_feature_values_sql(rows)


@register("multimodal_alaw_features", _alaw_fixture_sql())
def multimodal_alaw_features(spark, sf_dir):
    """REAL G.711 A-law telephony WAV decode end to end (format-6 RIFF
    walk + companding inverse, sources/multimodal.alaw_expand; the
    compress/expand byte layout is involutive on all 256 codes), features
    checked against an independent pure-Python companding re-derivation."""
    from .sources.multimodal import (
        extract_audio_features,
        synthetic_alaw_media,
    )
    out = extract_audio_features(synthetic_alaw_media(spark, 24))
    return out.select("media_id",
                      F.col("sample_rate").cast("int").alias("sample_rate"),
                      F.col("n_samples").cast("long").alias("n_samples"),
                      "duration_s", "rms",
                      F.col("zero_crossings").cast("long")
                      .alias("zero_crossings"))


def _aiff_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the REAL AIFF path: tones are pure formulas of (id, t),
    recomputed in plain Python with no AIFF bytes — a wrong 80-bit
    extended-float exponent, a missed SSND offset or a byte-order slip in
    the big-endian PCM flips the hash (rates are distinct per row, so the
    f80 decode is pinned row by row)."""
    import math

    rows = []
    for i in range(n):
        rate = (8000, 11025, 22050, 44100)[i % 4]
        ns = 280 + (i % 5) * 64
        freq = 160.0 + (i * 47 + seed) % 520
        x = [int(math.sin(2 * math.pi * freq * t / rate) * 13000)
             for t in range(ns)]
        s2 = sum(v * v for v in x)
        rms = math.sqrt(s2 / ns)
        zc = sum(1 for a, b in zip(x[:-1], x[1:]) if (a < 0) != (b < 0))
        rows.append(f"({i}, {rate}, {ns}, {ns / rate!r}, {rms!r}, {zc})")
    return _audio_feature_values_sql(rows)


@register("multimodal_aiff_features", _aiff_fixture_sql())
def multimodal_aiff_features(spark, sf_dir):
    """REAL AIFF (Apple IFF-85) audio decode end to end: big-endian chunk
    walk, COMM's 80-bit IEEE extended-float sample rate, SSND offset,
    big-endian PCM (sources/multimodal.decode_aiff) — the byte-order
    mirror of the RIFF/WAV path, dispatched off the FORM magic."""
    from .sources.multimodal import (
        extract_audio_features,
        synthetic_aiff_media,
    )
    out = extract_audio_features(synthetic_aiff_media(spark, 24))
    return out.select("media_id",
                      F.col("sample_rate").cast("int").alias("sample_rate"),
                      F.col("n_samples").cast("long").alias("n_samples"),
                      "duration_s", "rms",
                      F.col("zero_crossings").cast("long")
                      .alias("zero_crossings"))


_NB_SQL = """
WITH tok AS (
  SELECT doc_id, lang, t AS w, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        FROM documents)
  WHERE t <> '' GROUP BY 1, 2, 3
), voc AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tok
), cls AS (
  SELECT lang AS c, CAST(sum(tf) AS BIGINT) AS tot,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
  FROM tok GROUP BY 1
), nn AS (SELECT CAST(sum(nd) AS BIGINT) AS n FROM cls),
wc AS (
  SELECT w, lang AS c, CAST(sum(tf) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2
), terms AS (
  SELECT wc.w, wc.c,
         CAST(floor(ln(CAST(wc.cnt + 1 AS DOUBLE)
                       / CAST(cls.tot + voc.v AS DOUBLE))
                    * 1000000000 + 0.5) AS BIGINT) AS t_e9
  FROM wc JOIN cls ON cls.c = wc.c CROSS JOIN voc
), dflt AS (
  SELECT cls.c,
         CAST(floor(ln(1.0 / CAST(cls.tot + voc.v AS DOUBLE))
                    * 1000000000 + 0.5) AS BIGINT) AS d_e9,
         CAST(floor(ln(CAST(cls.nd AS DOUBLE) / CAST(nn.n AS DOUBLE))
                    * 1000000000 + 0.5) AS BIGINT) AS prior_e9
  FROM cls CROSS JOIN nn CROSS JOIN voc
), scores AS (
  SELECT tok.doc_id, tok.lang AS actual, dflt.c,
         max(dflt.prior_e9)
           + sum(tok.tf * coalesce(terms.t_e9, dflt.d_e9)) AS score_e9
  FROM tok CROSS JOIN dflt
  LEFT JOIN terms ON terms.w = tok.w AND terms.c = dflt.c
  GROUP BY 1, 2, 3
), pred AS (
  SELECT doc_id, actual, c AS predicted
  FROM (SELECT doc_id, actual, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score_e9 DESC, c) AS rn
        FROM scores)
  WHERE rn = 1
)
SELECT actual AS actual_lang, predicted AS predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
"""


@register("text_naive_bayes_lang", _NB_SQL)
def text_naive_bayes_lang(spark, sf_dir):
    """Multinomial Naive Bayes language classifier trained and evaluated
    on the documents table (resubstitution confusion matrix) — a REAL
    trained model as an engine op, not a heuristic: Laplace-smoothed
    per-(word, class) log-likelihoods ln((cnt+1)/(tot_c+V)) and class
    priors are e9-floored ONCE per vocabulary entry (exact-integer-ratio
    doubles, identical in both engines), per-document class scores are
    then EXACT integer sums Σ tf·term, and the argmax is tie-broken by
    class name — fully order-independent. Plan: one token aggregate, one
    31×5 term table broadcast, one grouped sum per (doc, class); the
    vocabulary-bounded model never shuffles with the data."""
    d = _t(spark, sf_dir, "documents")
    tok = (d.select("doc_id", "lang",
                    F.explode(F.split(F.col("text"), " ")).alias("w"))
           .filter(F.col("w") != "")
           .groupBy("doc_id", "lang", "w")
           .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    voc = tok.agg(F.countDistinct("w").cast("long").alias("v"))
    cls = (tok.groupBy(F.col("lang").alias("c"))
           .agg(F.sum("tf").cast("long").alias("tot"),
                F.countDistinct("doc_id").cast("long").alias("nd")))
    nn = cls.agg(F.sum("nd").cast("long").alias("n"))
    wc = (tok.groupBy("w", F.col("lang").alias("c"))
          .agg(F.sum("tf").cast("long").alias("cnt")))
    terms = (wc.join(cls, "c").crossJoin(F.broadcast(voc))
             .select("w", "c", F.expr(
                 "CAST(floor(ln(CAST(cnt + 1 AS DOUBLE)"
                 " / CAST(tot + v AS DOUBLE)) * 1000000000 + 0.5)"
                 " AS BIGINT)").alias("t_e9")))
    dflt = (cls.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(voc))
            .select("c", F.expr(
                "CAST(floor(ln(1.0 / CAST(tot + v AS DOUBLE))"
                " * 1000000000 + 0.5) AS BIGINT)").alias("d_e9"),
                F.expr(
                "CAST(floor(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE))"
                " * 1000000000 + 0.5) AS BIGINT)").alias("prior_e9")))
    scores = (tok.crossJoin(F.broadcast(dflt))
              .join(F.broadcast(terms), ["w", "c"], "left")
              .groupBy("doc_id", F.col("lang").alias("actual"), "c")
              .agg((F.max("prior_e9")
                    + F.sum(F.col("tf")
                            * F.coalesce(F.col("t_e9"), F.col("d_e9"))))
                   .alias("score_e9")))
    pred = (scores.groupBy("doc_id", "actual")
            .agg(F.min_by(
                "c", F.struct((-F.col("score_e9")).alias("ns"),
                              F.col("c").alias("c"))).alias("predicted")))
    return (pred.groupBy(F.col("actual").alias("actual_lang"),
                         F.col("predicted").alias("predicted_lang"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))


from .operators.sketches import countsketch_sql as _countsketch_sql  # noqa: E402


@register("sketch_countsketch_terms",
          _countsketch_sql(_TOK_STREAM, "tok",
                           [t for t, _ in kg_docs.DOC_LEXICON]))
def sketch_countsketch_terms(spark, sf_dir):
    """Count-Sketch frequency estimates for the 15 lexicon terms over the
    full document token stream (operators/sketches.countsketch_estimate) —
    the UNBIASED two-sided sibling of sketch_cms_terms: collisions carry
    random ±1 signs and cancel in expectation instead of always inflating,
    and the d=3 median is the exact integer sum−max−min. Same linear
    union-mergeable d·w-row shape as CMS."""
    from .operators.sketches import countsketch_estimate
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                     lambda w: w != "")
    toks = docs.select(F.explode(words).alias("tok"))
    return countsketch_estimate(toks, "tok",
                                [t for t, _ in kg_docs.DOC_LEXICON])


def _pcx_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the REAL PCX decode path: pixels are pure formulas of
    (x, y, id) (sources/multimodal.synthetic_pcx_media), so expected
    channel means are recomputed here in plain Python with no PCX bytes —
    a wrong RLE count, plane order, or pad-strip flips the hash."""
    rows = []
    for i in range(n):
        w = 15 + (i * 3 + seed) % 11
        h = 9 + (i * 5 + seed) % 12
        rs = gs = bs = 0
        for y in range(h):
            for x in range(w):
                rs += ((y // 3) * 50 + i * 13) % 256
                gs += (x * 11 + y * 17 + i) % 256
                bs += 0xC8 if (x + i) % 5 == 0 else (x * 2 + i) % 0xC0
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_pcx_features", _pcx_fixture_sql())
def multimodal_pcx_features(spark, sf_dir):
    """REAL PCX (ZSoft Paintbrush) decode end to end inside mapInPandas:
    version-5 header walk, RLE with 0xC0-marker escape semantics, 3-plane
    planar→interleaved reshape, even bytes-per-line pad strip
    (sources/multimodal.decode_pcx) — stdlib + numpy only."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_pcx_media,
    )
    return extract_image_features_real(synthetic_pcx_media(spark, 30)) \
        .select("media_id", "width", "height",
                "r_mean", "g_mean", "b_mean")


def _midi_fixture_sql(n: int = 30) -> str:
    """Oracle for the REAL SMF parse path: notes and tempo are the pure
    formulas of sources/multimodal.midi_note_formula, so every expected
    feature is closed-form integer arithmetic with no MIDI bytes — a
    wrong VLQ continuation bit, running-status drop, or meta-length skip
    flips the hash."""
    rows = []
    for i in range(n):
        k = 8 + i % 8
        notes = [((i + j) % 64 + 1, 24 + (j % 4) * 12,
                  40 + (i * 7 + j * 5) % 48, 32 + (i * 3 + j * 11) % 96)
                 for j in range(k)]
        rows.append(
            f"({i}, 2, 480, {500000 - i * 1000}, {k},"
            f" {sum(d + du for d, du, _, _ in notes)},"
            f" {sum(p for _, _, p, _ in notes)},"
            f" {sum(v for _, _, _, v in notes)})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(n_tracks AS BIGINT) AS n_tracks,"
            f" CAST(division AS BIGINT) AS division,"
            f" CAST(tempo_us AS BIGINT) AS tempo_us,"
            f" CAST(n_notes AS BIGINT) AS n_notes,"
            f" CAST(total_ticks AS BIGINT) AS total_ticks,"
            f" CAST(pitch_sum AS BIGINT) AS pitch_sum,"
            f" CAST(vel_sum AS BIGINT) AS vel_sum"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, n_tracks, division, tempo_us, n_notes,"
            f" total_ticks, pitch_sum, vel_sum)")


@register("multimodal_midi_features", _midi_fixture_sql())
def multimodal_midi_features(spark, sf_dir):
    """REAL Standard MIDI File parse end to end inside mapInPandas:
    MThd/MTrk chunk walk, variable-length deltas, RUNNING STATUS (the
    note track omits repeated 0x90 bytes), Set-Tempo meta extraction,
    the 1-vs-2 data-byte channel-message rule, and per-track tick
    accumulation (sources/multimodal.parse_midi) — stdlib only.
    Symbolic-music metadata as a first-class multimodal column."""
    from .sources.multimodal import (
        extract_midi_features,
        synthetic_midi_media,
    )
    return extract_midi_features(synthetic_midi_media(spark, 30))


_GOOD_TURING_SQL = """
WITH f AS (
  SELECT tok, CAST(count(*) AS HUGEINT) AS r
  FROM (SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
               '\\s+'), w -> w != '')) AS tok FROM documents)
  GROUP BY 1
), ff AS (
  SELECT r, CAST(count(*) AS HUGEINT) AS n_r FROM f GROUP BY 1
), tot AS (SELECT sum(r * n_r) AS n_tokens FROM ff)
SELECT CAST(a.r AS BIGINT) AS r, CAST(a.n_r AS BIGINT) AS n_r,
       CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r1,
       CAST((a.r + 1) * coalesce(b.n_r, 0) * 1000000 // a.n_r AS BIGINT)
           AS r_star_e6,
       CAST((SELECT sum(n_r) FROM ff WHERE r = 1) * 1000000
            // (SELECT n_tokens FROM tot) AS BIGINT) AS p0_e6
FROM ff a LEFT JOIN ff b ON b.r = a.r + 1
WHERE a.r <= 8
"""


@register("text_good_turing", _GOOD_TURING_SQL)
def text_good_turing(spark, sf_dir):
    """Good-Turing frequency-of-frequencies smoothing table over the
    document token stream: for each raw count r ≤ 8, the adjusted count
    r* = (r+1)·N_{r+1}/N_r (the discount every GT-smoothed language model
    applies to rare events), with the unseen-mass estimate p₀ = N₁/N
    riding along on every row. All quotients are exact integer e6 floors
    of exact type counts — identical in both engines. Plan: one
    tokenize+groupBy for type counts, a second tiny groupBy to the
    frequency-of-frequencies table (≤ max-count rows), and a self-join
    on r+1 — past the token aggregate everything is O(distinct counts)."""
    docs = _t(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                     lambda w: w != "")
    f = (docs.select(F.explode(words).alias("tok"))
         .groupBy("tok").agg(F.count(F.lit(1)).cast(dec).alias("r")))
    ff = f.groupBy("r").agg(F.count(F.lit(1)).cast(dec).alias("n_r"))
    tot = ff.agg(F.sum(F.col("r") * F.col("n_r")).alias("n_tokens"))
    n1 = (ff.filter(F.col("r") == 1)
          .agg(F.sum("n_r").alias("n1")))
    b = ff.select(F.col("r").alias("r1"), F.col("n_r").alias("n_r1"))
    return (ff.filter(F.col("r") <= 8)
            .join(F.broadcast(b), F.col("r1") == F.col("r") + 1, "left")
            .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(n1))
            .select(
                F.col("r").cast("long").alias("r"),
                F.col("n_r").cast("long").alias("n_r"),
                F.coalesce(F.col("n_r1"), F.lit(0).cast(dec)).cast("long")
                .alias("n_r1"),
                F.expr("CAST((r + 1) * coalesce(n_r1, CAST(0 AS"
                       " DECIMAL(38,0))) * 1000000 div n_r AS BIGINT)")
                .alias("r_star_e6"),
                F.expr("CAST(n1 * 1000000 div n_tokens AS BIGINT)")
                .alias("p0_e6")))


def _wl_sql(n_rounds: int = 3, min_cooc: int = 330) -> str:
    """1-WL oracle: identical degree seeding, identical sorted-neighbor
    multiset strings, identical md5-prefix recoloring, unrolled one CTE
    per round."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e
), c0 AS (
  SELECT node, 'd' || CAST(count(*) AS VARCHAR) AS c
  FROM bd GROUP BY node)"""
    steps = []
    for i in range(1, n_rounds + 1):
        p = f"c{i - 1}"
        steps.append(f""",
c{i} AS MATERIALIZED (
  SELECT s.node,
         substr(md5(s.c || '|' || array_to_string(
             list(nc.c ORDER BY nc.c), ',')), 1, 8) AS c
  FROM {p} s JOIN bd ON bd.node = s.node
  JOIN {p} nc ON nc.node = bd.nbr
  GROUP BY s.node, s.c
)""")
    return (head + "".join(steps) + f"""
SELECT node, c AS wl_color,
       CAST(count(*) OVER (PARTITION BY c) AS BIGINT) AS class_size
FROM c{n_rounds}""")


@register("kg_wl_refinement_docs", _wl_sql())
def kg_wl_refinement_docs(spark, sf_dir):
    """Weisfeiler-Lehman (1-WL) color refinement on the sparsified term
    co-occurrence graph — the canonical structural-role hash behind
    graph-isomorphism tests and WL graph kernels: colors seed with
    degree, then each round rehashes (own color, SORTED multiset of
    neighbor colors) through an md5 prefix, so two nodes share a color
    after round k iff the deterministic 1-WL test cannot distinguish
    their k-hop neighborhoods. Both engines hash identical strings —
    value-identical colors, not just isomorphic partitions. Plan: k
    rounds of (edges ⋈ colors → sort-agg → rehash) on the
    vocabulary-projected graph; at 10⁹ edges each round is one shuffle
    keyed by node, the same shape as a PageRank step."""
    edges = _cooc_edges(spark, sf_dir, 330)
    bd = (edges.select(F.col("term_a").alias("node"),
                       F.col("term_b").alias("nbr"))
          .unionAll(edges.select(F.col("term_b").alias("node"),
                                 F.col("term_a").alias("nbr"))))
    colors = (bd.groupBy("node")
              .agg(F.concat(F.lit("d"), F.count(F.lit(1)).cast("string"))
                   .alias("c")))
    for _ in range(3):
        nc = colors.select(F.col("node").alias("nbr"),
                           F.col("c").alias("nbr_c"))
        colors = (bd.join(colors, "node").join(nc, "nbr")
                  .groupBy("node", "c")
                  .agg(F.array_join(F.array_sort(F.collect_list("nbr_c")),
                                    ",").alias("ms"))
                  .select("node",
                          F.substring(F.md5(F.concat(F.col("c"), F.lit("|"),
                                                     F.col("ms"))), 1, 8)
                          .alias("c")))
    return colors.select(
        "node", F.col("c").alias("wl_color"),
        F.count(F.lit(1)).over(Window.partitionBy("c")).cast("long")
        .alias("class_size"))


def _bmp_rle_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the REAL RLE8 BMP decode path: indices and palette are
    pure formulas of (x, y, id) (sources/multimodal.synthetic_bmp_rle_media),
    so expected channel means are recomputed here in plain Python with no
    BMP bytes — a wrong run count, absolute-mode pad, EOL placement or
    palette-quad order flips the hash."""
    rows = []
    for i in range(n):
        w = 17 + (i * 3 + seed) % 14
        h = 9 + (i * 5 + seed) % 10
        rs = gs = bs = 0
        for y in range(h):
            for x in range(w):
                j = (((y // 2) * 31 + i) % 256 if (x + y + i) % 7 < 5
                     else (x * 11 + y * 3 + i * 5) % 256)
                rs += (j * 7) % 256
                gs += (j * 29) % 256
                bs += (j * 13) % 256
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_bmp_rle_features", _bmp_rle_fixture_sql())
def multimodal_bmp_rle_features(spark, sf_dir):
    """REAL BI_RLE8 compressed BMP decode end to end inside mapInPandas:
    encoded runs, absolute-mode literals with word padding, EOL/EOB
    escapes, bottom-up rows, BGRX palette lookup
    (sources/multimodal._decode_bmp_rle8) — the compressed sibling of
    the uncompressed 24bpp BMP path, stdlib + numpy only."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_bmp_rle_media,
    )
    return extract_image_features_real(synthetic_bmp_rle_media(spark, 24)) \
        .select("media_id", "width", "height",
                "r_mean", "g_mean", "b_mean")


def _goertzel_fixture_sql(n: int = 48, seed: int = 42) -> str:
    """Oracle for the Goertzel tone-detection path: the WAV fixture's
    tones are pure formulas of (id, t), so the expected peak bin/power
    are recomputed here with a LOCAL copy of the recurrence and no WAV
    bytes — same strictly-sequential float64 stream, same libm, so the
    doubles are bit-identical; what the query tests is the RIFF decode +
    scan wiring."""
    import math

    import numpy as np
    rows = []
    for i in range(1, n, 3):                       # audio rows of the fixture
        rate = 8000
        ns = 400 + (i % 5) * 80
        freq = 200.0 + (i * 37 + seed) % 600
        # the fixture's exact numpy synthesis (np.sin can differ from
        # math.sin by an ulp, which moves the peak power's last bits)
        t = np.arange(ns)
        x = [int(v) for v in
             (np.sin(2 * np.pi * freq * t / rate) * 12000).astype("<i2")]
        best_k, best_p = 0, -1.0
        for k in range(1, ns // 2):
            coef = 2.0 * math.cos(2.0 * math.pi * k / ns)
            s1 = s2 = 0.0
            for v in x:
                s0 = float(v) + coef * s1 - s2
                s2, s1 = s1, s0
            p = s1 * s1 + s2 * s2 - coef * s1 * s2
            if p > best_p:
                best_k, best_p = k, p
        # the power literal has more significant digits than 2^53 admits
        # through DuckDB's DECIMAL parse → quote it so strtod parses the
        # shortest repr straight to the exact double
        rows.append(f"({i}, {ns}, {best_k}, '{best_k * rate / ns!r}',"
                    f" '{best_p!r}')")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(n_samples AS BIGINT) AS n_samples,"
            f" CAST(peak_bin AS BIGINT) AS peak_bin,"
            f" CAST(peak_freq_hz AS DOUBLE) AS peak_freq_hz,"
            f" CAST(peak_power AS DOUBLE) AS peak_power"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, n_samples, peak_bin, peak_freq_hz, peak_power)")


@register("multimodal_goertzel_features", _goertzel_fixture_sql())
def multimodal_goertzel_features(spark, sf_dir):
    """Dominant-tone detection over the real WAV fixture via an
    exhaustive Goertzel bin scan (sources/multimodal.goertzel_peak) —
    single-bin DFT power through the classic recurrence, no FFT
    butterfly reordering, so the float stream is strictly sequential and
    the detected peak is deterministic. DSP feature extraction as a
    first-class multimodal column op."""
    from .sources.multimodal import (
        extract_goertzel_features,
        synthetic_bmp_media,
    )
    return extract_goertzel_features(synthetic_bmp_media(spark, 48))


_NTRIPLES_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), n AS (
  SELECT term, count(*) AS n FROM m GROUP BY term
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), e AS (
  SELECT p.term_a AS a, typ.pred, p.term_b AS b, p.common,
         least(p.common, 10) AS ce1
  FROM pairs p
  JOIN {kg_docs.typing_values_sql()}
    ON typ.term_a = p.term_a AND typ.term_b = p.term_b
), nodes AS (
  SELECT DISTINCT term FROM (
    SELECT a AS term FROM e UNION ALL SELECT b FROM e
  )
)
SELECT '<urn:kg:e:' || a || '> <urn:kg:p:' || pred || '> <urn:kg:e:'
       || b || '> .' AS ntriple FROM e
UNION ALL
SELECT '<urn:kg:s:' || a || ':' || pred || ':' || b
       || '> <urn:kg:p:common> "' || CAST(common AS VARCHAR)
       || '"^^<http://www.w3.org/2001/XMLSchema#integer> .' FROM e
UNION ALL
SELECT '<urn:kg:s:' || a || ':' || pred || ':' || b
       || '> <urn:kg:p:confidence> "' || CAST(ce1 // 10 AS VARCHAR) || '.'
       || CAST(ce1 % 10 AS VARCHAR)
       || '"^^<http://www.w3.org/2001/XMLSchema#decimal> .' FROM e
UNION ALL
SELECT '<urn:kg:e:' || term
       || '> <http://www.w3.org/2000/01/rdf-schema#label> "'
       || replace(replace(term, chr(92), chr(92) || chr(92)),
                  chr(34), chr(92) || chr(34)) || '" .' FROM nodes
"""


@register("kg_ntriples_export_docs", _NTRIPLES_SQL)
def kg_ntriples_export_docs(spark, sf_dir):
    """N-Triples (W3C RDF line format) serialization of the typed KG —
    the interchange sibling of the JSON/GraphML exports
    (kep/sources/exports.py; reference analog src/graph/export.py's
    format family): one relation triple per typed edge, plus an
    RDF-reified statement node carrying the co-occurrence support as an
    xsd:integer literal and the confidence as an xsd:decimal literal
    (built from least(common,10) in pure integer string math — no float
    ever formatted), plus one rdfs:label literal per graph node with the
    standard N-Triples escape chain (backslash then quote) applied.
    Plan: the memoized typed-edge aggregate, then three map-side literal
    projections and a vocabulary-sized distinct — at any corpus scale the
    export is one narrow scan over the edge table, embarrassingly
    parallel, written line-per-row exactly as a distributed text sink
    wants it."""
    e = _typed_edges(spark, sf_dir).select(
        F.col("term_a").alias("a"), "pred", F.col("term_b").alias("b"),
        "common", F.least(F.col("common"), F.lit(10)).alias("ce1"))
    bs, qt = chr(92), chr(34)
    rel = e.select(
        F.concat(F.lit("<urn:kg:e:"), "a", F.lit("> <urn:kg:p:"), "pred",
                 F.lit("> <urn:kg:e:"), "b", F.lit("> .")).alias("ntriple"))
    stmt = F.concat(F.lit("<urn:kg:s:"), "a", F.lit(":"), "pred",
                    F.lit(":"), "b")
    common = e.select(
        F.concat(stmt, F.lit('> <urn:kg:p:common> "'),
                 F.col("common").cast("string"),
                 F.lit('"^^<http://www.w3.org/2001/XMLSchema#integer> .'))
        .alias("ntriple"))
    conf = e.select(
        F.concat(stmt, F.lit('> <urn:kg:p:confidence> "'),
                 (F.col("ce1") / 10).cast("int").cast("string"), F.lit("."),
                 (F.col("ce1") % 10).cast("string"),
                 F.lit('"^^<http://www.w3.org/2001/XMLSchema#decimal> .'))
        .alias("ntriple"))
    nodes = (e.select(F.col("a").alias("term"))
             .union(e.select("b")).distinct())
    esc = F.replace(
        F.replace(F.col("term"), F.lit(bs), F.lit(bs + bs)),
        F.lit(qt), F.lit(bs + qt))
    labels = nodes.select(
        F.concat(F.lit("<urn:kg:e:"), "term",
                 F.lit('> <http://www.w3.org/2000/01/rdf-schema#label> "'),
                 esc, F.lit('" .')).alias("ntriple"))
    return rel.unionAll(common).unionAll(conf).unionAll(labels)


# Soundex fold replicated from the classic US-English algorithm (the same
# mapping Spark's JVM soundex uses): keep the (uppercased) first letter;
# map A-Z to '01230127022455012623017202' (7 = H/W, 0 = vowels); fold left
# to right carrying (output, last_code): H/W are transparent (last_code
# unchanged, so duplicates across H/W collapse), vowels reset last_code
# (so repeats across vowels re-emit), a new nonzero code != last appends;
# pad/truncate to 4. The engine runs the JVM built-in; the oracle runs
# this fold — agreement is checked per distinct word, so the algorithm is
# verified exhaustively over the corpus vocabulary.
_SOUNDEX_MAP = "01230127022455012623017202"


def _soundex_sql_expr(word: str) -> str:
    code = (f"'{_SOUNDEX_MAP}'"
            f"[strpos('ABCDEFGHIJKLMNOPQRSTUVWXYZ', upper({word})[i:i])]")
    return f"""rpad(substr(string_split(list_reduce(
      list_prepend(upper({word})[1:1] || '#' || codes[1], codes[2:]),
      (acc, code) -> CASE
        WHEN code = '7' THEN acc
        WHEN code = '0' THEN string_split(acc, '#')[1] || '#0'
        WHEN code = string_split(acc, '#')[2] THEN acc
        ELSE string_split(acc, '#')[1] || code || '#' || code END
    ), '#')[1], 1, 4), 4, '0')""".replace("codes", f"""list_transform(
      range(1, length({word}) + 1), i -> {code})""", 2)


_SOUNDEX_SQL = f"""
WITH w AS (
  SELECT word, 'doc' AS source FROM (
    SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$')
  UNION ALL
  SELECT word, 'part' AS source FROM (
    SELECT DISTINCT unnest(string_split(p_name, ' ')) AS word FROM part
  ) WHERE regexp_matches(word, '^[a-z]+$')
), s AS (
  SELECT word, source, {_soundex_sql_expr('word')} AS soundex FROM w
)
SELECT word, source, soundex,
       CAST(count(*) OVER (PARTITION BY soundex) AS BIGINT) AS block_size,
       CAST(count(*) OVER (PARTITION BY soundex)
            - count(*) OVER (PARTITION BY soundex, source) AS BIGINT)
           AS n_cross_source
FROM s
"""


@register("kg_soundex_blocking", _SOUNDEX_SQL)
def kg_soundex_blocking(spark, sf_dir):
    """Phonetic blocking for entity linking: every distinct alphabetic
    word from the documents corpus and the part-name vocabulary gets its
    Soundex code; words sharing a code form a candidate block (the
    classic record-linkage blocking key — candidate pairs are the
    within-block cross products, never all-pairs). Output is the full
    blocking table — (word, source, soundex, block size, cross-source
    member count) — so the JVM built-in soundex is verified exhaustively
    against the oracle's letter-by-letter fold for every vocabulary word.
    Complements the edit-distance/Jaro-Winkler blocked matchers
    (dedup_damerau_docs, q_part_name_jw_match) with the phonetic key
    family. Plan: two distinct-word aggregates (map-side partial over
    exploded words), one vocabulary-sized window — corpus scans dominate,
    the blocking itself is vocabulary-scale."""
    d = _t(spark, sf_dir, "documents")
    p = _t(spark, sf_dir, "part")
    alpha = F.col("word").rlike("^[a-z]+$")
    dw = (d.select(F.explode(F.split("text", " ")).alias("word"))
          .distinct().filter(alpha)
          .select("word", F.lit("doc").alias("source")))
    pw = (p.select(F.explode(F.split("p_name", " ")).alias("word"))
          .distinct().filter(alpha)
          .select("word", F.lit("part").alias("source")))
    s = dw.unionAll(pw).select(
        "word", "source", F.soundex(F.upper("word")).alias("soundex"))
    wb = Window.partitionBy("soundex")
    wbs = Window.partitionBy("soundex", "source")
    return s.select(
        "word", "source", "soundex",
        F.count(F.lit(1)).over(wb).cast("long").alias("block_size"),
        (F.count(F.lit(1)).over(wb) - F.count(F.lit(1)).over(wbs))
        .cast("long").alias("n_cross_source"))


_TRANSE_DIM = 8


def _transe_emb_sql(prefix: str, key: str) -> str:
    return (f"CAST(CAST(concat('0x', substr(md5(concat('{prefix}:', {key},"
            f" ':', CAST(i AS VARCHAR))), 1, 16)) AS UBIGINT)"
            f" % 2001 AS BIGINT) - 1000")


_TRANSE_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), e AS (
  SELECT p.term_a AS h, typ.pred AS r, p.term_b AS t
  FROM pairs p
  JOIN {kg_docs.typing_values_sql()}
    ON typ.term_a = p.term_a AND typ.term_b = p.term_b
), ent AS (
  SELECT term FROM {kg_docs.lexicon_values_sql()}
), dim AS (
  SELECT CAST(i AS INTEGER) AS i FROM range(0, {_TRANSE_DIM}) t(i)
), emb AS (
  SELECT term, i, {_transe_emb_sql('ent', 'term')} AS v FROM ent, dim
), rel AS (
  SELECT r, i, {_transe_emb_sql('rel', 'r')} AS v
  FROM (SELECT DISTINCT r FROM e), dim
), sc AS (
  SELECT e.h, e.r, e.t, c.term AS c, sum(abs(eh.v + rv.v - ec.v)) AS s
  FROM e
  JOIN ent c ON TRUE
  JOIN emb eh ON eh.term = e.h
  JOIN rel rv ON rv.r = e.r AND rv.i = eh.i
  JOIN emb ec ON ec.term = c.term AND ec.i = eh.i
  GROUP BY e.h, e.r, e.t, c.term
), rk AS (
  SELECT h, r, t, c,
         row_number() OVER (PARTITION BY h, r, t ORDER BY s, c) AS rn
  FROM sc
), tr AS (
  SELECT h, r, t, rn AS rnk FROM rk WHERE c = t
)
SELECT r AS pred, CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(rnk) * 1000000 // count(*) AS BIGINT) AS mr_e6,
       CAST(sum(1000000000 // rnk) // count(*) AS BIGINT) AS mrr_e9,
       CAST(count(*) FILTER (WHERE rnk <= 1) AS BIGINT) AS hits_at_1,
       CAST(count(*) FILTER (WHERE rnk <= 3) AS BIGINT) AS hits_at_3,
       CAST(count(*) FILTER (WHERE rnk <= 10) AS BIGINT) AS hits_at_10
FROM tr GROUP BY r
"""


@register("kg_transe_eval_docs", _TRANSE_SQL)
def kg_transe_eval_docs(spark, sf_dir):
    """TransE-style KG-embedding evaluation under the raw corrupted-tail
    protocol: deterministic integer embeddings e(x) ∈ [-1000,1000]^8
    (md5-derived per (name, dim) — the same cross-engine derived-
    randomness discipline as kg_negative_samples), score(h,r,t) =
    Σ|e(h)+e(r)−e(t)| in exact integers, and for every typed edge the
    true tail is ranked among ALL vocabulary entities by (score, term) —
    position-deterministic, tie-safe. Per-predicate link-prediction
    metrics: mean rank (e6), MRR (per-edge reciprocal floored at e9 then
    floored mean — one integer quotient chain), hits@{{1,3,10}}.
    Plan: corpus scan → memoized typed edges; the ranking grid is
    |edges|×|vocab|×{_TRANSE_DIM} rows, vocabulary-projected (documented
    scope, like the all-pairs centralities) — at production KG scale the
    same plan shape shards the candidate set by entity-hash blocks."""
    ee = _typed_edges(spark, sf_dir).select(
        F.col("term_a").alias("h"), F.col("pred").alias("r"),
        F.col("term_b").alias("t"))
    ent = kg_docs.lexicon_df(spark).select("term")
    dims = spark.range(0, _TRANSE_DIM).select(F.col("id").cast("int")
                                              .alias("i"))

    def _emb(prefix, key):
        return (F.conv(F.substring(F.md5(F.concat(
            F.lit(prefix + ":"), F.col(key), F.lit(":"),
            F.col("i").cast("string"))), 1, 16), 16, 10)
            .cast("decimal(38,0)") % 2001).cast("long") - 1000

    emb = ent.crossJoin(F.broadcast(dims)).select(
        "term", "i", _emb("ent", "term").alias("v"))
    rels = ee.select("r").distinct()
    rel = rels.crossJoin(F.broadcast(dims)).select(
        "r", "i", _emb("rel", "r").alias("v"))
    sc = (ee.crossJoin(F.broadcast(ent.select(F.col("term").alias("c"))))
          .join(F.broadcast(emb.selectExpr("term AS h", "i",
                                           "v AS vh")), "h")
          .join(F.broadcast(rel.selectExpr("r", "i", "v AS vr")),
                ["r", "i"])
          .join(F.broadcast(emb.selectExpr("term AS c", "i",
                                           "v AS vc")), ["c", "i"])
          .groupBy("h", "r", "t", "c")
          .agg(F.sum(F.abs(F.col("vh") + F.col("vr") - F.col("vc")))
               .alias("s")))
    w = Window.partitionBy("h", "r", "t").orderBy("s", "c")
    tr = (sc.withColumn("rank", F.row_number().over(w))
          .filter(F.col("c") == F.col("t")))
    return (tr.groupBy(F.col("r").alias("pred"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_edges"),
                 F.expr("CAST(sum(rank) * 1000000 div count(*) AS BIGINT)")
                 .alias("mr_e6"),
                 F.expr("CAST(sum(1000000000 div rank) div count(*)"
                        " AS BIGINT)").alias("mrr_e9"),
                 F.sum(F.when(F.col("rank") <= 1, 1).otherwise(0))
                 .cast("long").alias("hits_at_1"),
                 F.sum(F.when(F.col("rank") <= 3, 1).otherwise(0))
                 .cast("long").alias("hits_at_3"),
                 F.sum(F.when(F.col("rank") <= 10, 1).otherwise(0))
                 .cast("long").alias("hits_at_10")))


_TRANSE_MARGIN = 2000


_TRANSE_SGD_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), e AS (
  SELECT p.term_a AS h, typ.pred AS r, p.term_b AS t
  FROM pairs p
  JOIN {kg_docs.typing_values_sql()}
    ON typ.term_a = p.term_a AND typ.term_b = p.term_b
), ent AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS idx
  FROM {kg_docs.lexicon_values_sql()}
), nent AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ent),
en AS (
  SELECT e.h, e.r, e.t, v.term AS tn
  FROM e
  JOIN ent v ON v.idx = 1 + CAST(
    CAST(concat('0x', substr(md5(concat('neg:', e.h, ':', e.r, ':', e.t)),
                1, 16)) AS UBIGINT) % (SELECT n FROM nent) AS BIGINT)
), dim AS (
  SELECT CAST(i AS INTEGER) AS i FROM range(0, {_TRANSE_DIM}) t(i)
), emb AS (
  SELECT term, i, {_transe_emb_sql('ent', 'term')} AS v
  FROM (SELECT term FROM ent), dim
), rel AS (
  SELECT r, i, {_transe_emb_sql('rel', 'r')} AS v
  FROM (SELECT DISTINCT r FROM e), dim
), comp AS (
  SELECT en.h, en.r, en.t, en.tn, d.i,
         sign(eh.v + rv.v - et.v) AS g,
         sign(eh.v + rv.v - etn.v) AS gn,
         abs(eh.v + rv.v - et.v) AS dpos_i,
         abs(eh.v + rv.v - etn.v) AS dneg_i
  FROM en
  JOIN dim d ON TRUE
  JOIN emb eh ON eh.term = en.h AND eh.i = d.i
  JOIN rel rv ON rv.r = en.r AND rv.i = d.i
  JOIN emb et ON et.term = en.t AND et.i = d.i
  JOIN emb etn ON etn.term = en.tn AND etn.i = d.i
), viol AS (
  SELECT h, r, t, tn FROM comp GROUP BY h, r, t, tn
  HAVING sum(dpos_i) + {_TRANSE_MARGIN} > sum(dneg_i)
), grads AS (
  SELECT 'ent' AS kind, c.h AS name, c.i, -c.g + c.gn AS d FROM comp c
  JOIN viol USING (h, r, t, tn)
  UNION ALL
  SELECT 'ent', c.t, c.i, c.g FROM comp c JOIN viol USING (h, r, t, tn)
  UNION ALL
  SELECT 'ent', c.tn, c.i, -c.gn FROM comp c JOIN viol USING (h, r, t, tn)
  UNION ALL
  SELECT 'rel', c.r, c.i, -c.g + c.gn FROM comp c
  JOIN viol USING (h, r, t, tn)
), delta AS (
  SELECT kind, name, i, CAST(sum(d) AS BIGINT) AS delta
  FROM grads GROUP BY 1, 2, 3
), base AS (
  SELECT 'ent' AS kind, term AS name, i, v FROM emb
  UNION ALL
  SELECT 'rel', r, i, v FROM rel
)
SELECT b.kind, b.name, CAST(b.i AS INTEGER) AS i,
       CAST(b.v AS BIGINT) AS v0,
       CAST(coalesce(delta.delta, 0) AS BIGINT) AS delta,
       CAST(b.v + coalesce(delta.delta, 0) AS BIGINT) AS v1
FROM base b
LEFT JOIN delta ON delta.kind = b.kind AND delta.name = b.name
                AND delta.i = b.i
"""


@register("kg_transe_sgd_step", _TRANSE_SGD_SQL)
def kg_transe_sgd_step(spark, sf_dir):
    """One exact TransE margin-SGD training step as a pure DataFrame job —
    the training-side sibling of kg_transe_eval_docs: every typed edge
    gets an md5-picked corrupted tail (same derived-randomness discipline
    as kg_negative_samples; collisions with the true tail kept,
    documented), the margin loss max(0, d(h,r,t) + γ − d(h,r,t')) is
    evaluated in exact integers (γ=2000), and violated
    triples emit per-dimension L1 sign gradients (lr=1 integer step, the
    ℓ2 renorm of the float algorithm intentionally omitted for
    exactness): Δh = −g+g', Δt = +g, Δt' = −g', Δr = −g+g'. Scatter rows
    → one groupBy(name, dim) sum → join back to the base embeddings:
    exactly the shuffle shape mini-batch KG-embedding training has at
    10⁹ edges, where per-entity gradient aggregation is the hot
    aggregate and hot entities are the skew risk (salting applies
    unchanged). Output: every embedding cell with (v0, aggregated
    delta, v1)."""
    ee = _typed_edges(spark, sf_dir).select(
        F.col("term_a").alias("h"), F.col("pred").alias("r"),
        F.col("term_b").alias("t"))
    went = Window.orderBy("term")
    ent = (kg_docs.lexicon_df(spark).select("term")
           .withColumn("idx", F.row_number().over(went).cast("long")))
    n_ent = ent.count()  # lexicon-sized constant
    pick = (F.conv(F.substring(F.md5(F.concat(
        F.lit("neg:"), F.col("h"), F.lit(":"), F.col("r"), F.lit(":"),
        F.col("t"))), 1, 16), 16, 10).cast("decimal(38,0)")
        % n_ent).cast("long") + 1
    en = (ee.withColumn("pidx", pick)
          .join(F.broadcast(ent), F.col("pidx") == F.col("idx"))
          .select("h", "r", "t", F.col("term").alias("tn")))
    dims = spark.range(0, _TRANSE_DIM).select(
        F.col("id").cast("int").alias("i"))

    def _emb(prefix, key):
        return (F.conv(F.substring(F.md5(F.concat(
            F.lit(prefix + ":"), F.col(key), F.lit(":"),
            F.col("i").cast("string"))), 1, 16), 16, 10)
            .cast("decimal(38,0)") % 2001).cast("long") - 1000

    emb = (ent.select("term").crossJoin(F.broadcast(dims))
           .select("term", "i", _emb("ent", "term").alias("v")))
    rel = (ee.select("r").distinct().crossJoin(F.broadcast(dims))
           .select("r", "i", _emb("rel", "r").alias("v")))
    comp = (en.crossJoin(F.broadcast(dims))
            .join(F.broadcast(emb.selectExpr("term AS h", "i",
                                             "v AS vh")), ["h", "i"])
            .join(F.broadcast(rel.selectExpr("r", "i", "v AS vr")),
                  ["r", "i"])
            .join(F.broadcast(emb.selectExpr("term AS t", "i",
                                             "v AS vt")), ["t", "i"])
            .join(F.broadcast(emb.selectExpr("term AS tn", "i",
                                             "v AS vn")), ["tn", "i"])
            .select("h", "r", "t", "tn", "i",
                    F.signum(F.col("vh") + F.col("vr") - F.col("vt"))
                    .cast("long").alias("g"),
                    F.signum(F.col("vh") + F.col("vr") - F.col("vn"))
                    .cast("long").alias("gn"),
                    F.abs(F.col("vh") + F.col("vr") - F.col("vt"))
                    .alias("dpos_i"),
                    F.abs(F.col("vh") + F.col("vr") - F.col("vn"))
                    .alias("dneg_i")))
    # comp feeds both the violation test and the gradient scatter —
    # persist the (|edges|·8)-row grid so the one action computes the
    # broadcast-join chain once instead of re-deriving it per branch
    comp = _memo(spark, ("transe_comp", sf_dir), lambda: comp.persist())
    viol = (comp.groupBy("h", "r", "t", "tn")
            .agg(F.sum("dpos_i").alias("dp"), F.sum("dneg_i").alias("dn"))
            .filter(F.col("dp") + _TRANSE_MARGIN > F.col("dn"))
            .select("h", "r", "t", "tn"))
    cv = comp.join(viol, ["h", "r", "t", "tn"])
    # one pass, four gradient rows per cell via explode — a 4-branch
    # unionAll would re-evaluate the whole join subtree per branch
    grads = (cv.select(F.explode(F.array(
        F.struct(F.lit("ent").alias("kind"), F.col("h").alias("name"),
                 F.col("i").alias("i"),
                 (-F.col("g") + F.col("gn")).alias("d")),
        F.struct(F.lit("ent").alias("kind"), F.col("t").alias("name"),
                 F.col("i").alias("i"), F.col("g").alias("d")),
        F.struct(F.lit("ent").alias("kind"), F.col("tn").alias("name"),
                 F.col("i").alias("i"), (-F.col("gn")).alias("d")),
        F.struct(F.lit("rel").alias("kind"), F.col("r").alias("name"),
                 F.col("i").alias("i"),
                 (-F.col("g") + F.col("gn")).alias("d")))).alias("x"))
        .select("x.kind", "x.name", "x.i", "x.d"))
    delta = (grads.groupBy("kind", "name", "i")
             .agg(F.sum("d").cast("long").alias("delta")))
    base = (emb.select(F.lit("ent").alias("kind"),
                       F.col("term").alias("name"), "i", "v")
            .unionAll(rel.select(F.lit("rel"), F.col("r"), "i", "v")))
    return (base.join(delta, ["kind", "name", "i"], "left")
            .select("kind", "name", F.col("i").cast("int").alias("i"),
                    F.col("v").cast("long").alias("v0"),
                    F.coalesce(F.col("delta"), F.lit(0)).cast("long")
                    .alias("delta"),
                    (F.col("v") + F.coalesce(F.col("delta"), F.lit(0)))
                    .cast("long").alias("v1")))


_DSIR_BUCKETS = 64


_DSIR_SQL = f"""
WITH w AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
), bg AS (
  SELECT doc_id, lang,
         CAST(CAST(concat('0x', substr(md5(concat('dsir:', b)), 1, 16))
              AS UBIGINT) % {_DSIR_BUCKETS} AS BIGINT) AS bkt
  FROM (SELECT doc_id, lang,
               unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS b
        FROM w)
), src AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS cs FROM bg GROUP BY 1
), tgt AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS ct
  FROM bg WHERE lang = 'en' GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ns,
         CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS nt
  FROM bg
), lam AS (
  SELECT s.bkt,
         CAST(floor(ln(CAST((coalesce(t.ct, 0) + 1) * (tot.ns + {_DSIR_BUCKETS})
                   AS DOUBLE)
                 / CAST((tot.nt + {_DSIR_BUCKETS}) * (s.cs + 1) AS DOUBLE))
              * 1000000000 + 0.5) AS BIGINT) AS lam_e9
  FROM src s LEFT JOIN tgt t ON t.bkt = s.bkt CROSS JOIN tot
), per_doc AS (
  SELECT bg.doc_id, bg.lang, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lam.lam_e9) AS BIGINT) AS w_e9
  FROM bg JOIN lam ON lam.bkt = bg.bkt
  GROUP BY 1, 2
)
SELECT d.doc_id, d.lang,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       coalesce(p.w_e9, 0) AS w_e9
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


@register("data_dsir_weights", _DSIR_SQL)
def data_dsir_weights(spark, sf_dir):
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023)
    importance weights for training-data selection: hashed word-bigram
    features (md5 → 64 buckets, the same derived-hash discipline as
    data_hash_split), target distribution = the English slice, raw
    distribution = the whole corpus, per-bucket log-importance
    λ(b) = ln(p̂_tgt(b)/p̂_src(b)) with add-1 smoothing — e9-floored ONCE
    per bucket from exact integer count ratios (the text_naive_bayes_lang
    log discipline) — and per-document weight = Σ count_doc(b)·λ_e9(b),
    an exact integer sum. Docs whose importance weight is high look like
    the target domain and survive resampling. Plan: one exploded bigram
    aggregate (map-side combinable), a 64-row broadcast λ table, one
    per-doc sum — at 100 TB the corpus scan is the whole cost and
    nothing data-sized ever sits on the driver."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", "lang", F.split("text", " ").alias("ws"))
    # size<2 guard matches DuckDB's empty range(1, n<1) — Spark's
    # sequence(1, 0) would DESCEND and hit index 0 under ANSI
    bg = (w.select("doc_id", "lang", F.explode(F.expr(
        "IF(size(ws) >= 2, transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))),"
        " CAST(array() AS ARRAY<STRING>))"))
        .alias("b"))
        .select("doc_id", "lang", (F.conv(F.substring(F.md5(
            F.concat(F.lit("dsir:"), F.col("b"))), 1, 16), 16, 10)
            .cast("decimal(38,0)") % _DSIR_BUCKETS).cast("long")
            .alias("bkt")))
    src = bg.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("cs"))
    tgt = (bg.filter(F.col("lang") == "en")
           .groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("ct")))
    tot = bg.agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long")
        .alias("nt"))
    lam = (src.join(tgt, "bkt", "left").crossJoin(F.broadcast(tot))
           .select("bkt", F.expr(
               f"CAST(floor(ln(CAST((coalesce(ct, 0) + 1)"
               f" * (ns + {_DSIR_BUCKETS}) AS DOUBLE)"
               f" / CAST((nt + {_DSIR_BUCKETS}) * (cs + 1) AS DOUBLE))"
               f" * 1000000000 + 0.5) AS BIGINT)").alias("lam_e9")))
    per_doc = (bg.join(F.broadcast(lam), "bkt")
               .groupBy("doc_id", "lang")
               .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                    F.sum("lam_e9").cast("long").alias("w_e9")))
    return (d.select("doc_id", "lang")
            .join(per_doc.drop("lang"), "doc_id", "left")
            .select("doc_id", "lang",
                    F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                    F.coalesce("w_e9", F.lit(0)).cast("long")
                    .alias("w_e9")))


_BCUBED_SQL = f"""
WITH gold AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS g
  FROM documents
), mset AS (
  SELECT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), sys AS (
  SELECT g.doc_id,
         coalesce(md5(string_agg(DISTINCT m.term, ',' ORDER BY m.term)),
                  'none') AS c
  FROM gold g LEFT JOIN mset m ON m.doc_id = g.doc_id
  GROUP BY g.doc_id
), cells AS (
  SELECT s.c, g.g, CAST(count(*) AS BIGINT) AS n_cg
  FROM sys s JOIN gold g ON g.doc_id = s.doc_id
  GROUP BY 1, 2
), cs AS (SELECT c, CAST(sum(n_cg) AS BIGINT) AS n_c FROM cells GROUP BY 1),
gs AS (SELECT g, CAST(sum(n_cg) AS BIGINT) AS n_g FROM cells GROUP BY 1),
agg AS (
  SELECT CAST(sum(cells.n_cg) AS BIGINT) AS n,
         CAST(count(DISTINCT cells.c) AS BIGINT) AS n_clusters,
         CAST(count(DISTINCT cells.g) AS BIGINT) AS n_gold,
         CAST(sum(cells.n_cg * cells.n_cg * 1000000000 // cs.n_c)
              AS BIGINT) AS sp,
         CAST(sum(cells.n_cg * cells.n_cg * 1000000000 // gs.n_g)
              AS BIGINT) AS sr
  FROM cells JOIN cs ON cs.c = cells.c JOIN gs ON gs.g = cells.g
)
SELECT n AS n_docs, n_clusters, n_gold,
       CAST(sp // n AS BIGINT) AS bcubed_p_e9,
       CAST(sr // n AS BIGINT) AS bcubed_r_e9,
       CAST(2 * (sp // n) * (sr // n) // ((sp // n) + (sr // n))
            AS BIGINT) AS bcubed_f1_e9
FROM agg
"""


@register("kg_bcubed_eval", _BCUBED_SQL)
def kg_bcubed_eval(spark, sf_dir):
    """B-cubed extrinsic clustering evaluation (Bagga & Baldwin 1998 —
    the standard entity-resolution metric, per-ITEM precision/recall
    rather than per-pair): system clustering = mention-term-set blocking
    key (docs sharing the exact set of lexicon mentions cluster
    together; no mentions → one 'none' block), gold = exact-duplicate
    groups (the dedup_exact_docs normalization). B³P = mean over items of
    |C(i)∩G(i)|/|C(i)| collapses to Σ_cells n_cg²/n_c — per-cell
    e9-floored integer quotients, then one floored mean; recall mirrors
    with n_g; F1 is one integer quotient of the floored P/R. Plan: one
    corpus scan for both keys, a (cluster, gold) cell aggregate, two
    side aggregates broadcast back — the contingency table is
    cluster-count-sized, never item-sized, so the same plan audits a
    10⁹-doc ER run."""
    d = _t(spark, sf_dir, "documents")
    gold = d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                               r"\s+", " ")).alias("g"))
    mset = kg_docs.doc_mentions(spark, d).select("doc_id", "term").distinct()
    # no mentions → collect_set is EMPTY (not null) in Spark, while the
    # oracle's string_agg is NULL — branch on emptiness, not null
    sysc = (gold.select("doc_id")
            .join(mset, "doc_id", "left")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("term")).alias("ts"))
            .select("doc_id",
                    F.when(F.size("ts") == 0, F.lit("none"))
                    .otherwise(F.md5(F.array_join(F.col("ts"), ",")))
                    .alias("c")))
    cells = (sysc.join(gold, "doc_id")
             .groupBy("c", "g")
             .agg(F.count(F.lit(1)).cast("long").alias("n_cg")))
    cs = cells.groupBy("c").agg(F.sum("n_cg").cast("long").alias("n_c"))
    gs = cells.groupBy("g").agg(F.sum("n_cg").cast("long").alias("n_g"))
    agg = (cells.join(cs, "c").join(gs, "g")
           .agg(F.sum("n_cg").cast("long").alias("n"),
                F.countDistinct("c").cast("long").alias("n_clusters"),
                F.countDistinct("g").cast("long").alias("n_gold"),
                F.sum(F.expr("n_cg * n_cg * 1000000000 div n_c"))
                .cast("long").alias("sp"),
                F.sum(F.expr("n_cg * n_cg * 1000000000 div n_g"))
                .cast("long").alias("sr")))
    return agg.select(
        F.col("n").alias("n_docs"), "n_clusters", "n_gold",
        F.expr("CAST(sp div n AS BIGINT)").alias("bcubed_p_e9"),
        F.expr("CAST(sr div n AS BIGINT)").alias("bcubed_r_e9"),
        F.expr("CAST(2 * (sp div n) * (sr div n)"
               " div ((sp div n) + (sr div n)) AS BIGINT)")
        .alias("bcubed_f1_e9"))


def _tar_fixture_sql(n: int = 20, seed: int = 42) -> str:
    """Oracle for the hand-rolled ustar walk (sources/archives.parse_tar):
    member names, sizes, mtimes and content MD5s are re-derived from the
    same pure (shard_id, j, seed) formulas the shard builder uses — no tar
    bytes are touched here, so a wrong octal field width, a missed
    512-byte data pad or a checksum-as-spaces slip in the parser flips the
    hash. chksum_ok is asserted 1 for every member (stdlib-written
    archives must checksum clean)."""
    import hashlib as _h
    from knowledge_extraction_pipeline_spark.sources.archives import (
        tar_member_spec,
    )
    rows = []
    for i in range(n):
        for name, content, mtime in tar_member_spec(i, seed):
            md5 = _h.md5(content).hexdigest()
            rows.append(f"({i}, '{name}', {len(content)}, {mtime},"
                        f" '0', 1, '{md5}')")
    return (f"SELECT CAST(shard_id AS BIGINT) AS shard_id, name,"
            f" CAST(size AS BIGINT) AS size, CAST(mtime AS BIGINT) AS mtime,"
            f" typeflag, CAST(chksum_ok AS INTEGER) AS chksum_ok,"
            f" content_md5"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(shard_id, name, size, mtime, typeflag, chksum_ok,"
            f" content_md5)")


@register("multimodal_tar_members", _tar_fixture_sql())
def multimodal_tar_members(spark, sf_dir):
    """WebDataset-style tar shard manifest: genuine POSIX ustar archives
    (stdlib-written) listed by the HAND-ROLLED header walk in
    sources/archives.parse_tar — octal size/mtime fields, checksum
    verified with the chksum field read as spaces, data regions hashed
    and skipped with 512-byte padding. This is the shard-ingestion
    surface of a tar-sharded training corpus: one mapInPandas over the
    binary shard column yields the member manifest, so a 10⁹-shard
    listing is a single narrow scan with no driver involvement."""
    from .sources.archives import synthetic_tar_shards, tar_member_manifest
    out = tar_member_manifest(synthetic_tar_shards(spark, 20))
    return out.select("shard_id", "name",
                      F.col("size").cast("long").alias("size"),
                      F.col("mtime").cast("long").alias("mtime"),
                      "typeflag",
                      F.col("chksum_ok").cast("int").alias("chksum_ok"),
                      "content_md5")


def _zip_fixture_sql(n: int = 20, seed: int = 42) -> str:
    """Oracle for the hand-rolled ZIP central-directory walk: entry names,
    methods, sizes and CRC-32s are re-derived from the same pure
    (shard_id, j, seed) content formulas (CRC via zlib.crc32 on the spec
    content, never on zip bytes); crc_ok asserts the parser's local-header
    inflate+re-CRC round trip succeeded for every entry."""
    import zlib as _z
    from knowledge_extraction_pipeline_spark.sources.archives import (
        zip_entry_spec,
    )
    rows = []
    for i in range(n):
        for name, content, method in zip_entry_spec(i, seed):
            crc = _z.crc32(content) & 0xFFFFFFFF
            rows.append(f"({i}, '{name}', {method}, {len(content)},"
                        f" {crc}, 1)")
    return (f"SELECT CAST(shard_id AS BIGINT) AS shard_id, name,"
            f" CAST(method AS INTEGER) AS method,"
            f" CAST(usize AS BIGINT) AS usize,"
            f" CAST(crc32 AS BIGINT) AS crc32,"
            f" CAST(crc_ok AS INTEGER) AS crc_ok"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(shard_id, name, method, usize, crc32, crc_ok)")


@register("multimodal_zip_entries", _zip_fixture_sql())
def multimodal_zip_entries(spark, sf_dir):
    """ZIP shard manifest via the HAND-ROLLED central-directory walk
    (sources/archives.parse_zip_central_directory): backwards EOCD scan,
    PK\\x01\\x02 record iteration, and per-entry verification against the
    LOCAL header — raw-deflate inflate (zlib wbits=-15) or stored copy,
    CRC-32 and size re-checked. Mixed STORED/DEFLATED entries from the
    stdlib writer; the oracle re-derives every manifest column from the
    content formulas. The compressed-size column is deliberately excluded
    (it is a zlib-version artifact, not a content property)."""
    from .sources.archives import synthetic_zip_shards, zip_entry_manifest
    out = zip_entry_manifest(synthetic_zip_shards(spark, 20))
    return out.select("shard_id", "name",
                      F.col("method").cast("int").alias("method"),
                      F.col("usize").cast("long").alias("usize"),
                      F.col("crc32").cast("long").alias("crc32"),
                      F.col("crc_ok").cast("int").alias("crc_ok"))


def _au_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the REAL Sun AU path: tones are pure formulas of
    (id, t); even ids are 16-bit PCM big-endian (samples re-derived with
    stdlib math exactly as the WAV oracle), odd ids are G.711 μ-law whose
    companding round-trip is re-derived with the same INDEPENDENT
    pure-Python int implementation the μ-law WAV oracle uses — a wrong
    data-offset walk (the annotation field!), a byte-order slip or a
    companding-bias error flips the hash."""
    import math

    def compress(v: int) -> int:
        sign = 0x80 if v < 0 else 0
        u = min(abs(v), 32635) + 0x84
        seg = (u >> 7).bit_length() - 1
        return ~(sign | (seg << 4) | ((u >> (seg + 3)) & 0x0F)) & 0xFF

    def expand(c: int) -> int:
        ui = ~c & 0xFF
        seg = (ui >> 4) & 0x07
        t = ((((ui & 0x0F) << 3) | 0x84) << seg) - 0x84
        return -t if ui & 0x80 else t

    rows = []
    for i in range(n):
        rate = 8000
        ns = 280 + (i % 5) * 64
        freq = 170.0 + (i * 43 + seed) % 520
        amp = 13000 if i % 2 == 0 else 11000
        raw = [int(math.sin(2 * math.pi * freq * t / rate) * amp)
               for t in range(ns)]
        x = raw if i % 2 == 0 else [expand(compress(v)) for v in raw]
        s2 = sum(v * v for v in x)
        rms = math.sqrt(s2 / ns)
        zc = sum(1 for a, b in zip(x[:-1], x[1:]) if (a < 0) != (b < 0))
        rows.append(f"({i}, {rate}, {ns}, {ns / rate!r}, {rms!r}, {zc})")
    return _audio_feature_values_sql(rows)


@register("multimodal_au_features", _au_fixture_sql())
def multimodal_au_features(spark, sf_dir):
    """REAL Sun AU (au/.snd) audio decode end to end
    (sources/archives.decode_au): big-endian header walk honoring the
    variable-length annotation via the data-offset field, 16-bit PCM-BE
    and G.711 μ-law payloads both decoded, features checked against the
    independent pure-Python re-derivation — the third container format of
    the telephony-audio family (WAV μ-law, WAV A-law, AIFF, now AU)."""
    from .sources.archives import extract_au_features, synthetic_au_media
    out = extract_au_features(synthetic_au_media(spark, 24))
    return out.select("media_id",
                      F.col("sample_rate").cast("int").alias("sample_rate"),
                      F.col("n_samples").cast("long").alias("n_samples"),
                      "duration_s", "rms",
                      F.col("zero_crossings").cast("long")
                      .alias("zero_crossings"))


# RDFS-lite category hierarchy over the lexicon's categories — child is
# subClassOf parent; a tree (one parent each), max depth 3.
_ONTOLOGY: list[tuple[str, str]] = [
    ("tool", "artifact"), ("artifact", "thing"),
    ("method", "procedure"), ("procedure", "process"),
    ("process", "thing"), ("concept", "abstraction"),
    ("abstraction", "thing"), ("phenomenon", "process"),
]

_ONTOLOGY_VALUES = ", ".join(f"('{c}', '{p}')" for c, p in _ONTOLOGY)


_ONTOLOGY_SQL = f"""
WITH RECURSIVE hier(child, parent) AS (
  VALUES {_ONTOLOGY_VALUES}
), anc(cat, anc, d) AS (
  SELECT child, parent, 1 FROM hier
  UNION ALL
  SELECT a.cat, h.parent, a.d + 1 FROM anc a JOIN hier h ON h.child = a.anc
), lex AS (
  SELECT term, category FROM {kg_docs.lexicon_values_sql()}
)
SELECT term, rtype, CAST(min(d) AS INTEGER) AS depth FROM (
  SELECT term, category AS rtype, 0 AS d FROM lex
  UNION ALL
  SELECT lex.term, a.anc, a.d FROM lex JOIN anc a ON a.cat = lex.category
) GROUP BY term, rtype
"""


@register("kg_ontology_closure", _ONTOLOGY_SQL)
def kg_ontology_closure(spark, sf_dir):
    """RDFS-style type inference: the lexicon's categories sit in a small
    subClassOf hierarchy; every entity's asserted type is closed upward
    through the TRANSITIVE closure (rdfs:subClassOf semantics — entity
    type C and C ⊑ D entail type D), with depth = subsumption distance.
    The closure is computed by the same semi-naive iteration a recursive
    CTE runs (frontier ⋈ hierarchy until fixpoint) — driver-side,
    because an ontology is SCHEMA-scale (8 subClassOf axioms here;
    thousands at worst in production — never data-scale), then broadcast;
    the ENTITY-side type expansion is one broadcast join. At a
    10⁹-entity KG the same plan holds exactly because ontologies stay
    schema-scale while entities scale — iterating the closure as
    distributed jobs (tried first) spends ~100 s of scheduler overhead
    to join 8 rows."""
    # semi-naive closure on the axiom list; depth ≤ |hierarchy| guaranteed
    anc = [(c, p, 1) for c, p in _ONTOLOGY]
    parent = dict(_ONTOLOGY)
    frontier = list(anc)
    while frontier:
        step = [(cat, parent[a], d + 1) for cat, a, d in frontier
                if a in parent]
        anc.extend(step)
        frontier = step
    anc = spark.createDataFrame(anc, "cat string, anc string, d int")
    lex = kg_docs.lexicon_df(spark)
    direct = lex.select("term", F.col("category").alias("rtype"),
                        F.lit(0).alias("d"))
    inferred = (lex.join(F.broadcast(anc),
                         lex["category"] == anc["cat"])
                .select("term", F.col("anc").alias("rtype"), "d"))
    return (direct.unionAll(inferred)
            .groupBy("term", "rtype")
            .agg(F.min("d").cast("int").alias("depth")))


_SHACL_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), n AS (
  SELECT term, count(*) AS n FROM m GROUP BY term
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), e AS (
  SELECT p.term_a, typ.pred, p.term_b, p.common,
         CAST(p.common AS DOUBLE) / least(na.n, nb.n) AS strength,
         least(1.0, CAST(p.common AS DOUBLE) / 10.0) AS confidence
  FROM pairs p
  JOIN n na ON na.term = p.term_a
  JOIN n nb ON nb.term = p.term_b
  JOIN {kg_docs.typing_values_sql()}
    ON typ.term_a = p.term_a AND typ.term_b = p.term_b
), deg AS (
  SELECT term, count(*) AS degree FROM (
    SELECT term_a AS term FROM e UNION ALL SELECT term_b FROM e
  ) GROUP BY term
), lexall AS (
  SELECT term FROM {kg_docs.lexicon_values_sql()}
)
SELECT 'confidence_in_range' AS rule,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(count(*) FILTER (WHERE confidence <= 0 OR confidence > 1)
            AS BIGINT) AS n_violations,
       min(term_a || '->' || term_b)
           FILTER (WHERE confidence <= 0 OR confidence > 1) AS example
FROM e
UNION ALL
SELECT 'strength_in_range', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE strength <= 0 OR strength > 1)
            AS BIGINT),
       min(term_a || '->' || term_b)
           FILTER (WHERE strength <= 0 OR strength > 1)
FROM e
UNION ALL
SELECT 'no_self_loop', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE term_a = term_b) AS BIGINT),
       min(term_a) FILTER (WHERE term_a = term_b)
FROM e
UNION ALL
SELECT 'min_support_3', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE common < 3) AS BIGINT),
       min(term_a || '->' || term_b) FILTER (WHERE common < 3)
FROM e
UNION ALL
SELECT 'isolated_term', CAST((SELECT count(*) FROM lexall) AS BIGINT),
       CAST(count(*) AS BIGINT), min(l.term)
FROM lexall l LEFT JOIN deg ON deg.term = l.term
WHERE deg.term IS NULL
UNION ALL
SELECT 'hub_cardinality_10', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE degree > 10) AS BIGINT),
       min(term) FILTER (WHERE degree > 10)
FROM deg
"""


@register("kg_shacl_validation", _SHACL_SQL)
def kg_shacl_validation(spark, sf_dir):
    """SHACL-lite constraint validation over the constructed KG — the
    graph-quality gate a production KG build runs before publishing a
    snapshot: range shapes on edge properties (confidence/strength in
    (0,1] — reference formulas graph_tools.py:220-228 guarantee them, so
    these assert 0 violations), structural shapes (no self-loops,
    minimum evidence support, no isolated lexicon terms, hub-degree cap)
    that genuinely fire on this corpus. Each rule reports (checked,
    violations, min example id). Plan: every rule folds to a conditional
    aggregate over the memoized edge table + a vocabulary-sized degree
    frame — validation never re-scans the corpus and a 10⁹-edge graph
    pays one pass for the whole rule battery."""
    e = _typed_edges(spark, sf_dir)
    deg = (e.select(F.col("term_a").alias("term"))
           .unionAll(e.select("term_b"))
           .groupBy("term").agg(F.count(F.lit(1)).alias("degree")))
    lex = kg_docs.lexicon_df(spark).select("term")

    def rule_over_e(name, cond, example):
        return e.agg(
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(F.when(cond, 1).otherwise(0)).cast("long")
            .alias("n_violations"),
            F.min(F.when(cond, example)).alias("example"))

    pair_id = F.concat("term_a", F.lit("->"), "term_b")
    r1 = rule_over_e("confidence_in_range",
                     (F.col("confidence") <= 0) | (F.col("confidence") > 1),
                     pair_id)
    r2 = rule_over_e("strength_in_range",
                     (F.col("strength") <= 0) | (F.col("strength") > 1),
                     pair_id)
    r3 = rule_over_e("no_self_loop", F.col("term_a") == F.col("term_b"),
                     F.col("term_a"))
    r4 = rule_over_e("min_support_3", F.col("common") < 3, pair_id)
    r5 = (lex.join(deg, "term", "left_anti")
          .agg(F.lit("isolated_term").alias("rule"),
               F.lit(len(kg_docs.DOC_LEXICON)).cast("long")
               .alias("n_checked"),
               F.count(F.lit(1)).cast("long").alias("n_violations"),
               F.min("term").alias("example")))
    r6 = deg.agg(
        F.lit("hub_cardinality_10").alias("rule"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        F.sum(F.when(F.col("degree") > 10, 1).otherwise(0)).cast("long")
        .alias("n_violations"),
        F.min(F.when(F.col("degree") > 10, F.col("term"))).alias("example"))
    return r1.unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5) \
             .unionAll(r6)


_PROVENANCE_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs_doc AS (
  SELECT a.term AS term_a, b.term AS term_b, a.doc_id
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
), tot AS (
  SELECT term_a, term_b FROM pairs_doc
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.term_a, typ.pred, p.term_b, d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(p.doc_id) AS BIGINT) AS first_doc,
       CAST(max(p.doc_id) AS BIGINT) AS last_doc
FROM pairs_doc p
JOIN tot ON tot.term_a = p.term_a AND tot.term_b = p.term_b
JOIN documents d ON d.doc_id = p.doc_id
JOIN {kg_docs.typing_values_sql()}
  ON typ.term_a = p.term_a AND typ.term_b = p.term_b
GROUP BY 1, 2, 3, 4
"""


@register("kg_provenance_rollup", _PROVENANCE_SQL)
def kg_provenance_rollup(spark, sf_dir):
    """Per-triple provenance rollup — the docs-twin of the transcripts
    pipeline's (conv_id, turn_idx) lineage (north-star requirement:
    every emitted triple traces back to its evidence): each typed edge ×
    evidence source gets its supporting-document count and first/last
    doc anchors, so a KG consumer can audit WHICH slice of the corpus
    asserts a relation and how support distributes across sources. Plan:
    the per-doc pair explode (shuffle-free within doc), one semi-join
    against qualifying pairs, a broadcast source lookup, one grouped
    aggregate — provenance is a second aggregation over the SAME pair
    rows the edge build shuffles, not a new corpus scan."""
    d = _t(spark, sf_dir, "documents")
    m = kg_docs.doc_mentions(spark, d).select("doc_id", "term").distinct()
    a = m.select("doc_id", F.col("term").alias("term_a"))
    b = m.select("doc_id", F.col("term").alias("term_b"))
    pairs_doc = (a.join(b, "doc_id")
                 .filter(F.col("term_a") < F.col("term_b")))
    tot = (pairs_doc.groupBy("term_a", "term_b")
           .agg(F.count(F.lit(1)).alias("common"))
           .filter(F.col("common") >= 2).drop("common"))
    typ = spark.createDataFrame(
        [(ta, tb, kg_docs.resolved_type(ca, cb))
         for ta, ca in kg_docs.DOC_LEXICON
         for tb, cb in kg_docs.DOC_LEXICON],
        "term_a string, term_b string, pred string")
    return (pairs_doc
            .join(F.broadcast(tot), ["term_a", "term_b"])
            .join(d.select("doc_id", "source"), "doc_id")
            .join(F.broadcast(typ), ["term_a", "term_b"])
            .groupBy("term_a", "pred", "term_b", "source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.min("doc_id").cast("long").alias("first_doc"),
                 F.max("doc_id").cast("long").alias("last_doc")))


@register("kg_incremental_edges", _KG_COOCCUR_SQL)
def kg_incremental_edges(spark, sf_dir):
    """Incremental-view-maintenance identity for the KG edge build, as an
    oracled BATCH surface (the streaming sibling lives in
    streaming/stream.py's summary folding): the corpus is split into a
    base partition (doc_id % 5 < 4) and a delta (doc_id % 5 = 4), the
    engine maintains COUNT state per partition — pair co-occurrence
    counts and per-term document frequencies, the only additively
    mergeable quantities — merges with a full-outer sum, and only THEN
    re-derives strength/confidence and applies the support threshold:
    both are non-linear in the counts (min(nₐ,n_b) denominator,
    saturation, HAVING), so maintaining derived values would be wrong.
    The oracle recomputes edges directly over the whole corpus — the
    identity incremental(base ⊎ delta) ≡ direct(full) is what the hash
    checks. Plan: two partition-pruned aggregates + a vocabulary-sized
    merge; at 10¹²-turn scale this is exactly the nightly-delta shape —
    the base counts are a materialized snapshot, only the delta scans."""
    d = _t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 5 < 4)
    delta = d.filter(F.col("doc_id") % 5 == 4)

    def counts(docs):
        m = (kg_docs.doc_mentions(spark, docs)
             .select("doc_id", "term").distinct())
        a = m.select("doc_id", F.col("term").alias("term_a"))
        b = m.select("doc_id", F.col("term").alias("term_b"))
        pairs = (a.join(b, "doc_id")
                 .filter(F.col("term_a") < F.col("term_b"))
                 .groupBy("term_a", "term_b")
                 .agg(F.count(F.lit(1)).alias("common")))
        nterm = m.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
        return pairs, nterm

    pb, nb = counts(base)
    pd_, nd = counts(delta)
    # additive merge of the count state (full outer: a pair/term may be
    # new in the delta or absent from it)
    pairs = (pb.withColumnRenamed("common", "cb")
             .join(pd_.withColumnRenamed("common", "cd"),
                   ["term_a", "term_b"], "full_outer")
             .select("term_a", "term_b",
                     (F.coalesce("cb", F.lit(0))
                      + F.coalesce("cd", F.lit(0))).alias("common")))
    nterm = (nb.withColumnRenamed("n", "na")
             .join(nd.withColumnRenamed("n", "nd"), "term", "full_outer")
             .select("term", (F.coalesce("na", F.lit(0))
                              + F.coalesce("nd", F.lit(0))).alias("n")))
    qual = pairs.filter(F.col("common") >= kg_docs.MIN_COOCCURRENCES)
    na = nterm.select(F.col("term").alias("term_a"),
                      F.col("n").alias("n_a"))
    nb2 = nterm.select(F.col("term").alias("term_b"),
                       F.col("n").alias("n_b"))
    return (qual.join(F.broadcast(na), "term_a")
            .join(F.broadcast(nb2), "term_b")
            .select("term_a", "term_b", "common",
                    F.round(F.col("common")
                            / F.least("n_a", "n_b"), 6).alias("strength"),
                    F.round(F.least(F.lit(1.0), F.col("common") / 10.0), 6)
                    .alias("confidence")))


_QL_MU = 2000
_QL_TERMS = ("spark", "join", "vector")


def _ql_dirichlet_sql(terms=_QL_TERMS, mu=_QL_MU, k=20) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             w -> w != '') AS words
  FROM documents
), dl AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM base
), tok AS (
  SELECT doc_id, unnest(words) AS token FROM base
), coll AS (
  SELECT CAST(count(*) AS BIGINT) AS csize FROM tok
), cf AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cf FROM tok
  WHERE token IN ({tl}) GROUP BY token
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
  WHERE token IN ({tl}) GROUP BY doc_id, token
), grid AS (
  SELECT dl.doc_id, dl.dl, cf.token, cf.cf,
         coalesce(tf.tf, 0) AS tf, coll.csize
  FROM dl CROSS JOIN cf CROSS JOIN coll
  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.token = cf.token
), contrib AS (
  SELECT doc_id,
         CAST(floor(ln(CAST(tf * csize + {mu} * cf AS DOUBLE)
                       / CAST(csize * (dl + {mu}) AS DOUBLE))
                    * 1000000000 + 0.5) AS BIGINT) AS c_e9
  FROM grid
), s AS (
  SELECT doc_id, CAST(sum(c_e9) AS BIGINT) AS score_e9 FROM contrib
  GROUP BY doc_id
)
SELECT doc_id, score_e9,
       CAST(row_number() OVER (ORDER BY score_e9 DESC, doc_id) AS BIGINT)
           AS rank
FROM s ORDER BY score_e9 DESC, doc_id LIMIT {k}
"""


@register("search_ql_dirichlet", _ql_dirichlet_sql())
def search_ql_dirichlet(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty 2001)
    — the language-modeling retrieval family next to search_bm25
    (probabilistic) and tfidf (vector-space): score(q,d) =
    Σ_w ln((tf + μ·cf_w/|C|)/(dl + μ)), cleared to the exact integer
    ratio (tf·|C| + μ·cf_w)/(|C|·(dl + μ)) and e9-floored once per
    (doc, term) — the text_naive_bayes_lang log discipline — then summed
    exactly; μ=2000. Every doc scores every query term (smoothing gives
    absent terms mass), so the grid is |docs|×|q| rows from ONE token
    aggregate — no second corpus scan. Top-20 by (score, doc_id)."""
    d = _t(spark, sf_dir, "documents")
    terms = list(_QL_TERMS)
    words = F.expr(
        r"filter(split(lower(trim(text)), '\\s+'), w -> w != '')")
    base = d.select("doc_id", words.alias("words"))
    dl = base.select("doc_id", F.size("words").cast("long").alias("dl"))
    tok = base.select("doc_id", F.explode("words").alias("token"))
    coll = tok.agg(F.count(F.lit(1)).cast("long").alias("csize"))
    qtok = tok.filter(F.col("token").isin(terms))
    cf = qtok.groupBy("token").agg(F.count(F.lit(1)).cast("long")
                                   .alias("cf"))
    tf = qtok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    grid = (dl.crossJoin(F.broadcast(cf)).crossJoin(F.broadcast(coll))
            .join(tf, ["doc_id", "token"], "left")
            .select("doc_id", "dl", "token", "cf", "csize",
                    F.coalesce("tf", F.lit(0)).alias("tf")))
    contrib = grid.select("doc_id", F.expr(
        f"CAST(floor(ln(CAST(tf * csize + {_QL_MU} * cf AS DOUBLE)"
        f" / CAST(csize * (dl + {_QL_MU}) AS DOUBLE))"
        f" * 1000000000 + 0.5) AS BIGINT)").alias("c_e9"))
    s = contrib.groupBy("doc_id").agg(
        F.sum("c_e9").cast("long").alias("score_e9"))
    w = Window.orderBy(F.desc("score_e9"), F.asc("doc_id"))
    return (s.withColumn("rank", F.row_number().over(w).cast("long"))
            .orderBy(F.desc("score_e9"), F.asc("doc_id")).limit(20))


_RPQ_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), te AS (
  SELECT p.term_a, typ.pred, p.term_b
  FROM pairs p
  JOIN {kg_docs.typing_values_sql()}
    ON typ.term_a = p.term_a AND typ.term_b = p.term_b
), und AS (
  SELECT term_a AS src, pred, term_b AS dst FROM te
  UNION ALL
  SELECT term_b, pred, term_a FROM te
), uses AS (SELECT src, dst FROM und WHERE pred = 'USES'),
rel AS (SELECT src, dst FROM und WHERE pred = 'RELATED_TO'),
l1 AS (SELECT src AS x, dst AS z FROM uses),
l2 AS (
  SELECT u.src AS x, r.dst AS z FROM uses u JOIN rel r ON r.src = u.dst
  WHERE r.dst != u.src
), l3 AS (
  SELECT u.src AS x, r2.dst AS z
  FROM uses u JOIN rel r1 ON r1.src = u.dst
  JOIN rel r2 ON r2.src = r1.dst
  WHERE r1.dst != u.src AND r2.dst != r1.src AND r2.dst != u.src
)
SELECT x, z, CAST(min(len) AS INTEGER) AS min_len FROM (
  SELECT x, z, 1 AS len FROM l1
  UNION ALL SELECT x, z, 2 FROM l2
  UNION ALL SELECT x, z, 3 FROM l3
) WHERE x != z GROUP BY x, z
"""


@register("kg_rpq_paths", _RPQ_SQL)
def kg_rpq_paths(spark, sf_dir):
    """Regular-path query (SPARQL property-path semantics) over the
    typed KG: evaluate `x -USES-> ·(-RELATED_TO->){{0,2}} z` on the
    undirected typed edge set — the automaton is unrolled into three
    bounded join chains (len 1, 2, 3) with non-backtracking guards, and
    endpoints report their SHORTEST satisfying path length. The
    property-path counterpart of kg_metapath_counts_docs (which counts
    fixed-length category metapaths). Plan: the memoized edge table
    split by predicate once, then vocabulary-scale joins — at graph
    scale each chain step is one equi-join on the frontier, the same
    shape as the k-hop operator."""
    te = _typed_edges(spark, sf_dir).select("term_a", "pred", "term_b")
    und = (te.select(F.col("term_a").alias("src"), "pred",
                     F.col("term_b").alias("dst"))
           .unionAll(te.select("term_b", "pred", "term_a")))
    uses = und.filter(F.col("pred") == "USES").select("src", "dst")
    rel = und.filter(F.col("pred") == "RELATED_TO").select("src", "dst")
    l1 = uses.select(F.col("src").alias("x"), F.col("dst").alias("z"),
                     F.lit(1).alias("len"))
    u = uses.select(F.col("src").alias("x"), F.col("dst").alias("h1"))
    r1 = rel.select(F.col("src").alias("h1"), F.col("dst").alias("h2"))
    l2 = (u.join(r1, "h1").filter(F.col("h2") != F.col("x"))
          .select("x", F.col("h2").alias("z"), F.lit(2).alias("len")))
    r2 = rel.select(F.col("src").alias("h2"), F.col("dst").alias("h3"))
    l3 = (u.join(r1, "h1").filter(F.col("h2") != F.col("x"))
          .join(r2, "h2")
          .filter((F.col("h3") != F.col("h1"))
                  & (F.col("h3") != F.col("x")))
          .select("x", F.col("h3").alias("z"), F.lit(3).alias("len")))
    return (l1.unionAll(l2).unionAll(l3)
            .filter(F.col("x") != F.col("z"))
            .groupBy("x", "z")
            .agg(F.min("len").cast("int").alias("min_len")))


def _cpm_sql(min_cooc: int = 2, n_rounds: int = 12) -> str:
    """Clique-percolation oracle: 3-cliques from oriented joins, overlap
    edges between triangles sharing an edge, then the same unrolled
    min-label CC recurrence _components_sql uses — over TRIANGLE ids."""
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), tri AS MATERIALIZED (
  SELECT e1.a, e1.b, e2.b AS c,
         e1.a || '|' || e1.b || '|' || e2.b AS tid
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), trie AS MATERIALIZED (
  SELECT tid, a || '|' || b AS ed FROM tri
  UNION ALL SELECT tid, a || '|' || c FROM tri
  UNION ALL SELECT tid, b || '|' || c FROM tri
), ov AS MATERIALIZED (
  SELECT DISTINCT x.tid AS a, y.tid AS b
  FROM trie x JOIN trie y ON x.ed = y.ed AND x.tid < y.tid
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM ov UNION SELECT b, a FROM ov
), nodes AS MATERIALIZED (SELECT DISTINCT tid AS node FROM tri),
l0 AS (SELECT node, node AS lbl FROM nodes)"""
    steps = []
    for i in range(1, n_rounds + 1):
        p = f"l{i - 1}"
        steps.append(f""",
l{i} AS MATERIALIZED (
  SELECT nd.node, least(s.lbl, coalesce(nb.mn, s.lbl)) AS lbl
  FROM nodes nd
  JOIN {p} s ON s.node = nd.node
  LEFT JOIN (SELECT bd.node, min(pv.lbl) AS mn
             FROM bd JOIN {p} pv ON pv.node = bd.nbr
             GROUP BY bd.node) nb ON nb.node = nd.node
)""")
    tail = f""",
asn AS (SELECT node AS tid, lbl AS community FROM l{n_rounds}),
members AS (
  SELECT DISTINCT asn.community, x.term AS node
  FROM asn JOIN tri ON tri.tid = asn.tid
  CROSS JOIN LATERAL (VALUES (tri.a), (tri.b), (tri.c)) x(term)
)
SELECT community, node,
       CAST(count(*) OVER (PARTITION BY community) AS BIGINT)
           AS community_size
FROM members"""
    return head + "".join(steps) + tail


@register("kg_clique_percolation", _cpm_sql())
def kg_clique_percolation(spark, sf_dir):
    """Clique-percolation (CPM, Palla et al. Nature 2005) OVERLAPPING
    communities at k=3: adjacent triangles (sharing an edge) percolate
    into one community, and a node belongs to every community whose
    triangles contain it — the overlapping counterpart of the
    partition-style kg_communities_docs. Engine path: oriented-join
    triangle enumeration (the kg_triangles_docs shape), a triangle-
    overlap graph keyed by sorted-pair edge ids, then the REAL
    large-star/small-star CC operator over TRIANGLE ids (distributed
    path forced); the oracle runs the unrolled min-label recurrence over
    the same overlap graph. Plan: triangle enumeration is the dominant
    join at scale (degree-ordered orientation bounds it), the overlap
    join is per-edge grouped, CC is the iterated-join operator — all
    vocabulary-projected here, all the same shapes a web-scale CPM
    uses."""
    from .operators.canonicalize import connected_components
    e = _cooc_edges(spark, sf_dir, 2).select(
        F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    e1 = e.select(F.col("a"), F.col("b"))
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (e1.join(e2, "b")
           .join(e3, (F.col("a") == F.col("a2"))
                 & (F.col("c") == F.col("c2")))
           .select("a", "b", "c",
                   F.concat_ws("|", "a", "b", "c").alias("tid")))
    trie = (tri.select("tid", F.concat_ws("|", "a", "b").alias("ed"))
            .unionAll(tri.select("tid", F.concat_ws("|", "a", "c")))
            .unionAll(tri.select("tid", F.concat_ws("|", "b", "c"))))
    x = trie.select(F.col("tid").alias("tx"), "ed")
    y = trie.select(F.col("tid").alias("ty"), "ed")
    ov = (x.join(y, "ed").filter(F.col("tx") < F.col("ty"))
          .select(F.col("tx").alias("src"), F.col("ty").alias("dst"))
          .distinct())
    # isolated triangles (no overlap) must still form singleton
    # communities: seed the CC input with self-loops
    asn = connected_components(
        ov.unionAll(tri.select(F.col("tid").alias("src"),
                               F.col("tid").alias("dst"))),
        driver_threshold=0).select(
        F.col("norm_term").alias("tid"), F.col("canon").alias("community"))
    members = (tri.join(asn, "tid")
               .select("community", F.explode(F.array("a", "b", "c"))
                       .alias("node"))
               .distinct())
    wsz = Window.partitionBy("community")
    return members.select(
        "community", "node",
        F.count(F.lit(1)).over(wsz).cast("long").alias("community_size"))


def _rast_fixture_sql(n: int = 30, seed: int = 42) -> str:
    """Oracle for the REAL Sun Raster decode path: pixels are pure
    formulas of (x, y, id) (sources/multimodal.synthetic_rast_media) and
    the channel means are recomputed in plain Python from the pattern —
    no raster bytes, so a header-word slip, a missed 16-bit row pad or a
    broken RLE escape (0x80,count,value / 0x80,0x00 literal) flips the
    hash for the odd (byte-encoded) ids."""
    rows = []
    for i in range(n):
        w = 14 + (i * 3 + seed) % 11
        h = 12 + (i * 5 + seed) % 9
        rsum = gsum = bsum = 0
        for y in range(h):
            for x in range(w):
                rsum += ((x // 4) * 9 + y * 7 + i) % 256
                gsum += ((x // 3) * 5 + y * 11 + i * 2) % 256
                bsum += ((x // 5) * 3 + y + i * 13) % 256
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rsum / npx!r}, {gsum / npx!r},"
                    f" {bsum / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_rast_features", _rast_fixture_sql())
def multimodal_rast_features(spark, sf_dir):
    """REAL Sun Raster (.ras) decode end to end
    (sources/multimodal.decode_rast): big-endian 8-word header walk,
    16-bit row-pad strip, BGR→RGB, and for odd ids the Sun byte-encoded
    RLE stream (0x80 escapes with the count+1 convention and the
    0x80,0x00 literal case) — the 15th real codec in the multimodal
    family, checked against a pure-Python re-derivation of the channel
    means from the pixel formulas."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_rast_media,
    )
    out = extract_image_features_real(synthetic_rast_media(spark, 30))
    return out.select("media_id", "width", "height",
                      "r_mean", "g_mean", "b_mean")


from .operators.sketches import hll_sql as _hll_union_base  # noqa: E402

_HLL_UNION_SQL = f"""
SELECT (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events)
           AS n_groups_merged,
       n_exact, hll_est, nonzero_registers, max_rank
FROM ({_hll_union_base("events", "event_id")})
"""


@register("sketch_hll_union_events", _HLL_UNION_SQL)
def sketch_hll_union_events(spark, sf_dir):
    """HLL register-wise MAX merge — the union-mergeability claim of the
    sketch family made into an oracled query: the ENGINE builds one HLL
    register vector PER event_type and merges them by per-bucket max
    (exactly what a 1000-executor rollup ships between partial
    aggregates), while the ORACLE sketches the ungrouped stream directly;
    max over a partition of the key set equals the global max per bucket,
    so the merged estimate must be bit-identical to the direct one —
    any merge bug (bucket misalignment, lost register, wrong rollup)
    flips the hash. Same corrected-raw-HLL formula and exact scaled
    harmonic sum as sketch_distinct_events."""
    from .operators.sketches import HLL_P, _alpha, _hash_cols
    e = _t(spark, sf_dir, "events")
    m = 1 << HLL_P
    keys = e.select("event_type", F.col("event_id").alias("_k")).distinct()
    bucket, rank = _hash_cols(F.col("_k"), HLL_P)
    hashed = keys.select("event_type", bucket.alias("_b"),
                         rank.alias("_r"))
    # per-GROUP register vectors, then the register-wise max merge
    regs_g = hashed.groupBy("event_type", "_b").agg(F.max("_r").alias("_m"))
    regs = regs_g.groupBy("_b").agg(F.max("_m").alias("_m"))
    gmax = regs.agg(F.max("_m").alias("_rmax"))
    joined = regs.crossJoin(F.broadcast(gmax))
    term = F.pow(F.lit(2.0), F.col("_rmax") - F.col("_m")) \
        .cast("decimal(38,0)")
    hll = (joined.groupBy("_rmax")
           .agg(F.sum(term).alias("_s_nz"),
                F.count(F.lit(1)).cast("long").alias("nonzero_registers"))
           .withColumn("_s", F.col("_s_nz")
                       + (F.lit(m) - F.col("nonzero_registers"))
                       * F.pow(F.lit(2.0), F.col("_rmax"))
                       .cast("decimal(38,0)"))
           .select(
               F.round(F.lit(_alpha(m)) * (F.lit(float(m * m))
                                           * F.pow(F.lit(2.0),
                                                   F.col("_rmax")))
                       / F.col("_s").cast("double"), 4).alias("hll_est"),
               "nonzero_registers",
               F.col("_rmax").cast("long").alias("max_rank")))
    counts = e.agg(
        F.countDistinct("event_type").cast("long").alias("n_groups_merged"),
        F.countDistinct("event_id").cast("long").alias("n_exact"))
    return counts.crossJoin(hll).select(
        "n_groups_merged", "n_exact", "hll_est", "nonzero_registers",
        "max_rank")


_AUG_DROP_MOD = 10


_AUG_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), kept AS (
  SELECT doc_id, len(ws) AS n_tokens,
         list_filter(ws, (t, i) ->
           CAST(CAST(concat('0x', substr(md5(concat('aug:',
                CAST(doc_id AS VARCHAR), ':', CAST(i AS VARCHAR))), 1, 16))
                AS UBIGINT) % {_AUG_DROP_MOD} AS BIGINT) != 0) AS ks
  FROM w
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(ks) AS BIGINT) AS n_kept,
       md5(array_to_string(ks, ' ')) AS aug_fingerprint
FROM kept
"""


@register("data_token_dropout_aug", _AUG_SQL)
def data_token_dropout_aug(spark, sf_dir):
    """Deterministic token-dropout augmentation (the EDA random-deletion
    op made replayable): token i of doc d is dropped iff
    md5('aug:d:i') ≡ 0 (mod 10) — the same derived-randomness discipline
    as data_hash_split, so the augmented corpus is identical across
    engines, retries and executors (a real requirement: augmentation
    must be reproducible for ablation). The output fingerprints the
    augmented text rather than shipping it. Plan: one map-side
    array-lambda pass per doc, zero shuffles beyond the scan — position
    indices are 1-based in BOTH engines (DuckDB list lambdas are 1-based;
    the Spark lambda shifts its 0-based index)."""
    d = _t(spark, sf_dir, "documents")
    ks = F.expr(
        f"filter(split(text, ' '), (t, i) -> CAST(conv(substring(md5("
        f"concat('aug:', CAST(doc_id AS STRING), ':',"
        f" CAST(i + 1 AS STRING))), 1, 16), 16, 10) AS DECIMAL(38,0))"
        f" % {_AUG_DROP_MOD} != 0)")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.size(ks).cast("long").alias("n_kept"),
        F.md5(F.array_join(ks, " ")).alias("aug_fingerprint"))


def _xbm_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the XBM text-format parse: bit(x, y) is a pure formula
    of (x, y, id), so set-bit counts are recomputed here without touching
    the C source — a wrong LSB-first bit order, a missed row byte-pad or
    a hex-token slip flips the hash."""
    rows = []
    for i in range(n):
        w = 9 + (i * 3 + seed) % 14
        h = 6 + (i * 5 + seed) % 9
        nset = sum(1 for y in range(h) for x in range(w)
                   if (x * 3 + y * 5 + i) % 7 == 0)
        dens = nset * 1_000_000 // (w * h)
        rows.append(f"({i}, {w}, {h}, {nset}, {dens})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(n_set AS BIGINT) AS n_set,"
            f" CAST(density_e6 AS BIGINT) AS density_e6"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, n_set, density_e6)")


@register("multimodal_xbm_features", _xbm_fixture_sql())
def multimodal_xbm_features(spark, sf_dir):
    """XBM (X BitMap) parse — the TEXT-embedded image format (C source:
    #define width/height + a hex byte array, LSB-first bits, rows padded
    to byte boundaries): genuine XBM sources are generated from pure
    (x, y, id) bit formulas, parsed back by a hand-rolled tokenizer in
    mapInPandas, and the set-bit census is checked against the formula
    re-derivation. Rounds out the codec family with the one format that
    ships as source code rather than bytes."""
    import re as _re

    import pandas as pd

    def encode_xbm(i: int, w: int, h: int) -> str:
        bpr = (w + 7) // 8
        data = []
        for y in range(h):
            row = bytearray(bpr)
            for x in range(w):
                if (x * 3 + y * 5 + i) % 7 == 0:
                    row[x // 8] |= 1 << (x % 8)      # LSB-first
            data.extend(row)
        hexes = ", ".join(f"0x{b:02x}" for b in data)
        return (f"#define img{i}_width {w}\n#define img{i}_height {h}\n"
                f"static unsigned char img{i}_bits[] = {{\n {hexes} }};\n")

    rows = []
    for i in range(24):
        w = 9 + (i * 3 + 42) % 14
        h = 6 + (i * 5 + 42) % 9
        rows.append((i, "image", "image/x-xbitmap",
                     bytearray(encode_xbm(i, w, h).encode("ascii")), {}))
    from .sources.multimodal import MEDIA_SCHEMA
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    def process(batches):
        pat_w = _re.compile(r"#define\s+\w*_?width\s+(\d+)")
        pat_h = _re.compile(r"#define\s+\w*_?height\s+(\d+)")
        pat_b = _re.compile(r"0x([0-9a-fA-F]{1,2})")
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                src = bytes(payload).decode("ascii")
                w = int(pat_w.search(src).group(1))
                h = int(pat_h.search(src).group(1))
                data = [int(m, 16) for m in pat_b.findall(
                    src[src.index("{"):])]
                bpr = (w + 7) // 8
                nset = 0
                for y in range(h):
                    for x in range(w):
                        if data[y * bpr + x // 8] >> (x % 8) & 1:
                            nset += 1
                out.append((mid, w, h, nset, nset * 1_000_000 // (w * h)))
            yield pd.DataFrame(out, columns=[
                "media_id", "width", "height", "n_set", "density_e6"])

    res = media.select("media_id", "payload").mapInPandas(
        process, schema="media_id long, width int, height int,"
                        " n_set long, density_e6 long")
    return res


_PRED_FUN_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), e AS (
  SELECT typ.pred, p.term_a AS s, p.term_b AS o
  FROM pairs p
  JOIN {kg_docs.typing_values_sql()}
    ON typ.term_a = p.term_a AND typ.term_b = p.term_b
)
SELECT pred, CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT s) AS BIGINT) AS n_subjects,
       CAST(count(DISTINCT o) AS BIGINT) AS n_objects,
       CAST(count(DISTINCT s) * 1000000 // count(*) AS BIGINT)
           AS functionality_e6,
       CAST(count(DISTINCT o) * 1000000 // count(*) AS BIGINT)
           AS inv_functionality_e6
FROM e GROUP BY pred
"""


@register("kg_pred_functionality", _PRED_FUN_SQL)
def kg_pred_functionality(spark, sf_dir):
    """Predicate functionality profile — the PARIS alignment primitives
    (Suchanek et al., VLDB 2012): per predicate, fun(r) =
    |distinct subjects|/|edges| and its inverse — the signals an
    ontology-alignment or schema-induction pass reads to decide whether
    a relation behaves like a function (fun→1) or a many-many
    association (fun→0). e6-exact integer quotients over the memoized
    typed-edge table; one grouped aggregate, predicate-cardinality
    output."""
    e = _typed_edges(spark, sf_dir)
    return (e.groupBy("pred")
            .agg(F.count(F.lit(1)).cast("long").alias("n_edges"),
                 F.countDistinct("term_a").cast("long").alias("n_subjects"),
                 F.countDistinct("term_b").cast("long").alias("n_objects"))
            .select("pred", "n_edges", "n_subjects", "n_objects",
                    F.expr("CAST(n_subjects * 1000000 div n_edges"
                           " AS BIGINT)").alias("functionality_e6"),
                    F.expr("CAST(n_objects * 1000000 div n_edges"
                           " AS BIGINT)").alias("inv_functionality_e6")))


_BLOCKQ_SQL = """
WITH sh AS (
  SELECT doc_id AS id, lang AS blk,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\\s+') AS words
        FROM documents)
), gold AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.blk = b.blk AND a.id < b.id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.1
), keyed AS (
  SELECT doc_id, lang, n_chars // 100 AS lb FROM documents
), cand AS (
  SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_candidates
  FROM (SELECT lang, lb, count(*) AS n FROM keyed GROUP BY 1, 2)
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_total
  FROM documents
), cb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_gold,
         CAST(count(*) FILTER (
           WHERE ka.lang = kb.lang AND ka.lb = kb.lb) AS BIGINT)
             AS n_coblocked
  FROM gold g
  JOIN keyed ka ON ka.doc_id = g.id_a
  JOIN keyed kb ON kb.doc_id = g.id_b
)
SELECT cb.n_gold, cb.n_coblocked,
       CAST(CASE WHEN cb.n_gold > 0
                 THEN cb.n_coblocked * 1000000 // cb.n_gold ELSE 0 END
            AS BIGINT) AS pairs_completeness_e6,
       cand.n_candidates, tot.n_total AS n_total_pairs,
       CAST((tot.n_total - cand.n_candidates) * 1000000 // tot.n_total
            AS BIGINT) AS reduction_ratio_e6
FROM cb CROSS JOIN cand CROSS JOIN tot
"""


@register("dedup_blocking_quality", _BLOCKQ_SQL)
def dedup_blocking_quality(spark, sf_dir):
    """Blocking-scheme QUALITY metrics (the standard ER evaluation pair):
    pairs-completeness = co-blocked fraction of the gold near-duplicate
    pairs (3-gram Jaccard ≥ 0.1, the dedup_ngram_jaccard_docs truth),
    and reduction ratio = 1 − candidates/all-pairs — for the
    (lang, ⌊n_chars/100⌋) blocking key. Length bucketing CAN split true
    near-dup pairs across buckets, so PC < 1 is a real measurement, not
    a tautology; RR quantifies the quadratic work avoided. Complements
    dedup_blocking_stats (pair-budget census) with the recall side.
    Plan: the gold join is the documented O(block²) exact baseline; the
    metrics themselves are two tiny aggregates."""
    from .operators.dedup import ngram_jaccard_pairs
    d = _t(spark, sf_dir, "documents")
    gold = ngram_jaccard_pairs(d, threshold=0.1, k=3).select("id_a", "id_b")
    keyed = d.select(F.col("doc_id"), "lang",
                     (F.col("n_chars") / 100).cast("long").alias("lb"))
    cand = (keyed.groupBy("lang", "lb").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.expr("n * (n - 1) div 2")).cast("long")
                 .alias("n_candidates")))
    tot = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(count(*) * (count(*) - 1) div 2 AS BIGINT)")
        .alias("n_total"))
    ka = keyed.select(F.col("doc_id").alias("id_a"),
                      F.col("lang").alias("la"), F.col("lb").alias("ba"))
    kb = keyed.select(F.col("doc_id").alias("id_b"),
                      F.col("lang").alias("lb2"), F.col("lb").alias("bb"))
    cb = (gold.join(ka, "id_a").join(kb, "id_b")
          .agg(F.count(F.lit(1)).cast("long").alias("n_gold"),
               F.sum(F.when((F.col("la") == F.col("lb2"))
                            & (F.col("ba") == F.col("bb")), 1)
                     .otherwise(0)).cast("long").alias("n_coblocked")))
    return (cb.crossJoin(F.broadcast(cand)).crossJoin(F.broadcast(tot))
            .select("n_gold", "n_coblocked",
                    F.expr("CAST(CASE WHEN n_gold > 0 THEN n_coblocked"
                           " * 1000000 div n_gold ELSE 0 END AS BIGINT)")
                    .alias("pairs_completeness_e6"),
                    "n_candidates",
                    F.col("n_total").alias("n_total_pairs"),
                    F.expr("CAST((n_total - n_candidates) * 1000000"
                           " div n_total AS BIGINT)")
                    .alias("reduction_ratio_e6")))


_AMIE_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), te AS (
  SELECT typ.pred, p.term_a, p.term_b
  FROM pairs p
  JOIN {kg_docs.typing_values_sql()}
    ON typ.term_a = p.term_a AND typ.term_b = p.term_b
), und AS (
  SELECT pred, term_a AS s, term_b AS o FROM te
  UNION ALL SELECT pred, term_b, term_a FROM te
), body AS (
  SELECT DISTINCT b1.pred AS p1, b2.pred AS p2, b1.s AS x, b2.o AS z
  FROM und b1 JOIN und b2 ON b2.s = b1.o
  WHERE b1.s != b2.o AND b1.o != b1.s AND b2.o != b2.s
), nbody AS (
  SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_body
  FROM body GROUP BY 1, 2
), supp AS (
  SELECT b.p1, b.p2, h.pred AS p3, CAST(count(*) AS BIGINT) AS support
  FROM body b JOIN und h ON h.s = b.x AND h.o = b.z
  GROUP BY 1, 2, 3
)
SELECT s.p1, s.p2, s.p3, s.support, n.n_body,
       CAST(s.support * 1000000 // n.n_body AS BIGINT) AS confidence_e6
FROM supp s JOIN nbody n ON n.p1 = s.p1 AND n.p2 = s.p2
"""


@register("kg_amie_rules", _AMIE_SQL)
def kg_amie_rules(spark, sf_dir):
    """AMIE-style horn-rule mining over the typed KG (Galárraga et al.,
    WWW 2013): for every length-2 body p1(x,y) ∧ p2(y,z) ⇒ p3(x,z),
    support = |{(x,z)} satisfying body AND head| and standard confidence
    = support / |body pairs| (e6 integer quotient) — the rule-quality
    table a KG-completion pass ranks before materializing inferred
    edges. Undirected predicate atoms (the typing table's canonical
    orientation), non-degenerate variable guards. Plan: one 2-hop join
    on the memoized edge table + one head semi-join — predicate-pair
    grouped, vocabulary-projected here, and at web scale exactly the
    AMIE join shape (body frontier ⋈ head index)."""
    te = _typed_edges(spark, sf_dir).select("pred", "term_a", "term_b")
    und = (te.select("pred", F.col("term_a").alias("s"),
                     F.col("term_b").alias("o"))
           .unionAll(te.select("pred", "term_b", "term_a")))
    b1 = und.select(F.col("pred").alias("p1"), F.col("s").alias("x"),
                    F.col("o").alias("y"))
    b2 = und.select(F.col("pred").alias("p2"), F.col("s").alias("y"),
                    F.col("o").alias("z"))
    body = (b1.join(b2, "y")
            .filter((F.col("x") != F.col("z"))
                    & (F.col("y") != F.col("x"))
                    & (F.col("y") != F.col("z")))
            .select("p1", "p2", "x", "z").distinct())
    nbody = body.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).cast("long").alias("n_body"))
    head = und.select(F.col("pred").alias("p3"), F.col("s").alias("x"),
                      F.col("o").alias("z"))
    supp = (body.join(head, ["x", "z"])
            .groupBy("p1", "p2", "p3")
            .agg(F.count(F.lit(1)).cast("long").alias("support")))
    return (supp.join(nbody, ["p1", "p2"])
            .select("p1", "p2", "p3", "support", "n_body",
                    F.expr("CAST(support * 1000000 div n_body AS BIGINT)")
                    .alias("confidence_e6")))


_DELTA_WORDS = [t for t, _ in kg_docs.DOC_LEXICON]


def _burrows_sql() -> str:
    wl = ", ".join(f"'{w}'" for w in _DELTA_WORDS)
    nw = len(_DELTA_WORDS)
    return f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
), tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1
), f AS (
  SELECT t.source, wl.w,
         CAST(coalesce(c.c, 0) * 1000000 // t.n AS BIGINT) AS f_e6
  FROM tot t
  CROSS JOIN (SELECT unnest([{wl}]) AS w) wl
  LEFT JOIN (SELECT source, w, CAST(count(*) AS BIGINT) AS c
             FROM tok WHERE w IN ({wl}) GROUP BY 1, 2) c
    ON c.source = t.source AND c.w = wl.w
), stats AS (
  SELECT w, CAST(count(*) AS BIGINT) AS s,
         CAST(sum(f_e6) AS HUGEINT) AS sf,
         CAST(sum(f_e6 * f_e6) AS HUGEINT) AS sff
  FROM f GROUP BY w
), var AS (
  SELECT w, s, CAST(s * sff - sf * sf AS HUGEINT) AS num FROM stats
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, a.w,
         abs(a.f_e6 - b.f_e6) AS adf
  FROM f a JOIN f b ON a.w = b.w AND a.source < b.source
), terms AS (
  SELECT p.src_a, p.src_b,
         CAST(floor(CAST(p.adf * v.s AS DOUBLE) * 1000000.0
                    / sqrt(CAST(v.num AS DOUBLE)) + 0.5) AS BIGINT)
             AS t_e6
  FROM pairs p JOIN var v ON v.w = p.w
  WHERE v.num > 0
)
SELECT src_a, src_b,
       CAST(sum(t_e6) // {nw} AS BIGINT) AS delta_e6
FROM terms GROUP BY 1, 2
"""


@register("text_burrows_delta", _burrows_sql())
def text_burrows_delta(spark, sf_dir):
    """Burrows' Delta authorship/stylometry distance between sources
    (Burrows 2002): per-source relative frequencies of the 15 marker
    words (e6-floored integer ratios), population z-scores collapsed via
    z_a − z_b = (f_a − f_b)/σ_w so Delta(a,b) = mean_w |f_a − f_b|/σ_w —
    the only float is ONE sqrt of the exact integer variance numerator
    per word, and each pair term is floored once at e6 before the exact
    mean (adf·S·1e6 ≤ 2e13 < 2⁵³, so the double math is exact).
    Zero-variance words drop (standard). Plan: one token aggregate, a
    |sources|×|words| frequency grid, a source-pair join — all
    vocabulary/source-scale after the scan."""
    d = _t(spark, sf_dir, "documents")
    nw = len(_DELTA_WORDS)
    tok = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    tot = tok.groupBy("source").agg(F.count(F.lit(1)).cast("long")
                                    .alias("n"))
    wl = spark.createDataFrame([(w,) for w in _DELTA_WORDS], "w string")
    cnt = (tok.filter(F.col("w").isin(_DELTA_WORDS))
           .groupBy("source", "w")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    f = (tot.crossJoin(F.broadcast(wl))
         .join(cnt, ["source", "w"], "left")
         .select("source", "w",
                 F.expr("CAST(coalesce(c, 0) * 1000000 div n AS BIGINT)")
                 .alias("f_e6")))
    dec = "decimal(38,0)"
    stats = f.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum(F.col("f_e6").cast(dec)).alias("sf"),
        F.sum((F.col("f_e6") * F.col("f_e6")).cast(dec)).alias("sff"))
    var = stats.select(
        "w", "s", (F.col("s") * F.col("sff") - F.col("sf") * F.col("sf"))
        .alias("num"))
    a = f.select(F.col("source").alias("src_a"), "w",
                 F.col("f_e6").alias("fa"))
    b = f.select(F.col("source").alias("src_b"), "w",
                 F.col("f_e6").alias("fb"))
    pairs = (a.join(b, "w").filter(F.col("src_a") < F.col("src_b"))
             .select("src_a", "src_b", "w",
                     F.abs(F.col("fa") - F.col("fb")).alias("adf")))
    terms = (pairs.join(F.broadcast(var), "w")
             .filter(F.col("num") > 0)
             .select("src_a", "src_b", F.expr(
                 "CAST(floor(CAST(adf * s AS DOUBLE) * 1000000.0"
                 " / sqrt(CAST(num AS DOUBLE)) + 0.5) AS BIGINT)")
                 .alias("t_e6")))
    return (terms.groupBy("src_a", "src_b")
            .agg(F.expr(f"CAST(sum(t_e6) div {nw} AS BIGINT)")
                 .alias("delta_e6")))


_FFD_SQL = r"""
WITH RECURSIVE base AS (
  SELECT CAST(CAST(concat('0x', substr(md5(concat('pack:42:', CAST(doc_id AS VARCHAR))), 1, 16))
              AS UBIGINT) % 16 AS INTEGER) AS shard,
         CAST(doc_id AS BIGINT) AS doc_id,
         CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                      w -> CAST(ceil(length(w) / 4.0) AS INT))) AS BIGINT) AS n_tokens
  FROM documents
), t AS MATERIALIZED (
  SELECT shard, doc_id, n_tokens,
         row_number() OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id) AS rn
  FROM base
), pack AS (
  SELECT shard, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS bin,
         n_tokens AS bin_fill, [n_tokens] AS bins
  FROM t WHERE rn = 1
  UNION ALL
  SELECT q.shard, q.doc_id, q.n_tokens, q.rn,
         CAST(CASE WHEN q.idx IS NULL THEN len(q.bins)
                   ELSE q.idx - 1 END AS BIGINT),
         CASE WHEN q.idx IS NULL THEN q.n_tokens
              ELSE q.bins[q.idx] + q.n_tokens END,
         CASE WHEN q.idx IS NULL THEN list_append(q.bins, q.n_tokens)
              ELSE list_transform(range(1, len(q.bins) + 1),
                     j -> CASE WHEN j = q.idx
                               THEN q.bins[j] + q.n_tokens
                               ELSE q.bins[j] END) END
  FROM (
    SELECT p.bins, t.shard, t.doc_id, t.n_tokens, t.rn,
           list_filter(range(1, len(p.bins) + 1),
                       i -> p.bins[i] + t.n_tokens <= 512)[1] AS idx
    FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
  ) q
)
SELECT shard, doc_id, n_tokens, bin, bin_fill,
       CAST(len(bins) AS BIGINT) AS n_bins
FROM pack
"""


@register("data_pack_ffd", _FFD_SQL)
def data_pack_ffd(spark, sf_dir):
    """First-Fit-Decreasing sequence packing into 512-token bins
    (operators/packing.pack_sequences_ffd) — the 11/9·OPT quality
    upgrade over data_pack_sequences' next-fit, verified against a
    recursive-CTE replay whose accumulator is the whole BIN-LOAD LIST
    (the oracle carries every open bin's fill through the recursion, so
    a wrong first-fit index, a missed close or an off-by-one in the
    ledger flips the hash). Same 16-way md5 sharding: bins stay
    shard-local, parallelism = shards, state = O(open bins) per shard."""
    from .operators.packing import pack_sequences_ffd
    return pack_sequences_ffd(_t(spark, sf_dir, "documents"),
                              max_tokens=512)


def _pam_fixture_sql(n: int = 28, seed: int = 42) -> str:
    """Oracle for the PAM (P7) decode path: pixels are pure formulas of
    (x, y, id); grayscale rows replicate to three equal channel means
    exactly like the decoder's replication."""
    rows = []
    for i in range(n):
        w = 11 + (i * 7 + seed) % 13
        h = 9 + (i * 3 + seed) % 11
        if i % 4 == 0:
            s = sum((x * 5 + y * 9 + i * 3) % 256
                    for y in range(h) for x in range(w))
            rs = gs = bs = s
        else:
            rs = sum((x * 2 + y * 13 + i) % 256
                     for y in range(h) for x in range(w))
            gs = sum((x * 11 + y * 3 + i * 5) % 256
                     for y in range(h) for x in range(w))
            bs = sum((x + y * 7 + i * 9) % 256
                     for y in range(h) for x in range(w))
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_pam_features", _pam_fixture_sql())
def multimodal_pam_features(spark, sf_dir):
    """NetPBM PAM (P7) decode end to end
    (sources/multimodal.decode_pam): token-header walk to ENDHDR,
    raw unpadded sample block, GRAYSCALE→RGB replication — the arbitrary
    -map member of the NetPBM family next to the binary PPM path,
    checked against a pure-Python re-derivation of the channel means."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_pam_media,
    )
    out = extract_image_features_real(synthetic_pam_media(spark, 28))
    return out.select("media_id", "width", "height",
                      "r_mean", "g_mean", "b_mean")


def _wl_kernel_sql(n_rounds: int = 3, min_cooc: int = 2) -> str:
    """WL-subtree-kernel oracle: the 1-WL recoloring recurrence
    (_wl_sql's exact string recipe) run over TWO snapshots — the base
    partition (doc_id % 5 < 4) and the full corpus — with per-round
    color-histogram dot products."""
    def fam(tag, where):
        head = f"""
m{tag} AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term){where}
), e{tag} AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m{tag} a JOIN m{tag} b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), bd{tag} AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e{tag} UNION ALL SELECT b, a FROM e{tag}
), c{tag}0 AS MATERIALIZED (
  SELECT node, 'd' || CAST(count(*) AS VARCHAR) AS c
  FROM bd{tag} GROUP BY node)"""
        steps = []
        for i in range(1, n_rounds + 1):
            p = f"c{tag}{i - 1}"
            steps.append(f""",
c{tag}{i} AS MATERIALIZED (
  SELECT s.node,
         substr(md5(s.c || '|' || array_to_string(
             list(nc.c ORDER BY nc.c), ',')), 1, 8) AS c
  FROM {p} s JOIN bd{tag} ON bd{tag}.node = s.node
  JOIN {p} nc ON nc.node = bd{tag}.nbr
  GROUP BY s.node, s.c
)""")
        hists = [f""",
h{tag}{i} AS (SELECT c, CAST(count(*) AS BIGINT) AS n
              FROM c{tag}{i} GROUP BY c)""" for i in range(n_rounds + 1)]
        return head + "".join(steps) + "".join(hists)

    rounds_sql = []
    for i in range(n_rounds + 1):
        rounds_sql.append(f"""
SELECT {i} AS round,
       (SELECT CAST(count(*) AS BIGINT) FROM hb{i}) AS n_colors_base,
       (SELECT CAST(count(*) AS BIGINT) FROM hf{i}) AS n_colors_full,
       CAST(coalesce(count(*), 0) AS BIGINT) AS n_shared,
       CAST(coalesce(sum(b.n * f.n), 0) AS BIGINT) AS kernel
FROM hb{i} b JOIN hf{i} f ON f.c = b.c""")
    return ("WITH " + fam("b", " AND d.doc_id % 5 < 4")[1:]
            + "," + fam("f", "")[1:]
            + " ".join([""]) + (" UNION ALL ".join(rounds_sql)))


@register("kg_wl_kernel_snapshots", _wl_kernel_sql())
def kg_wl_kernel_snapshots(spark, sf_dir):
    """Weisfeiler-Lehman SUBTREE KERNEL between two KG snapshots — the
    base partition's graph (doc_id % 5 < 4, the kg_incremental_edges
    split) vs the full corpus graph: both run the identical md5
    recoloring recurrence as kg_wl_refinement_docs, and each round
    contributes the dot product of the color histograms (Shervashidze
    et al., JMLR 2011) — the structural-similarity number a KG
    maintenance pass watches to see HOW MUCH a delta reshaped the graph
    (counts churn in k-hop neighborhood structure, not just edges).
    Colors are comparable across snapshots because both hash identical
    degree-seeded strings. Plan: 2×(k rounds of edges ⋈ colors),
    per-round histogram joins — each round one node-keyed shuffle per
    snapshot at any scale."""
    def hists(docs):
        m = (kg_docs.doc_mentions(spark, docs)
             .select("doc_id", "term").distinct())
        a = m.select("doc_id", F.col("term").alias("a"))
        b = m.select("doc_id", F.col("term").alias("b"))
        e = (a.join(b, "doc_id").filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") >= 2))
        bd = (e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
              .unionAll(e.select(F.col("b"), F.col("a"))))
        colors = (bd.groupBy("node")
                  .agg(F.concat(F.lit("d"),
                                F.count(F.lit(1)).cast("string"))
                       .alias("c")))
        out = [colors.groupBy("c").agg(F.count(F.lit(1)).cast("long")
                                       .alias("n"))]
        for _ in range(3):
            nc = colors.select(F.col("node").alias("nbr"),
                               F.col("c").alias("nbr_c"))
            colors = (bd.join(colors, "node").join(nc, "nbr")
                      .groupBy("node", "c")
                      .agg(F.array_join(F.array_sort(
                          F.collect_list("nbr_c")), ",").alias("ms"))
                      .select("node", F.substring(F.md5(F.concat(
                          F.col("c"), F.lit("|"), F.col("ms"))), 1, 8)
                          .alias("c")))
            out.append(colors.groupBy("c").agg(
                F.count(F.lit(1)).cast("long").alias("n")))
        return out

    d = _t(spark, sf_dir, "documents")
    hb = hists(d.filter(F.col("doc_id") % 5 < 4))
    hf = hists(d)
    rows = []
    for i in range(4):
        b_i = hb[i].select(F.col("c"), F.col("n").alias("nb"))
        f_i = hf[i].select(F.col("c"), F.col("n").alias("nf"))
        nb = b_i.agg(F.count(F.lit(1)).cast("long").alias("n_colors_base"))
        nf = f_i.agg(F.count(F.lit(1)).cast("long").alias("n_colors_full"))
        ker = (b_i.join(f_i, "c")
               .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long")
                    .alias("n_shared"),
                    F.coalesce(F.sum(F.col("nb") * F.col("nf")), F.lit(0))
                    .cast("long").alias("kernel")))
        rows.append(nb.crossJoin(nf).crossJoin(ker).select(
            F.lit(i).alias("round"), "n_colors_base", "n_colors_full",
            "n_shared", "kernel"))
    res = rows[0]
    for r in rows[1:]:
        res = res.unionAll(r)
    return res


_SNAP_DIFF_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term, d.doc_id % 5 < 4 AS in_base
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), base AS (
  SELECT a.term AS term_a, b.term AS term_b,
         CAST(count(*) AS BIGINT) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  WHERE a.in_base
  GROUP BY 1, 2 HAVING count(*) >= 2
), full_g AS (
  SELECT a.term AS term_a, b.term AS term_b,
         CAST(count(*) AS BIGINT) AS common
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT coalesce(b.term_a, f.term_a) AS term_a,
       coalesce(b.term_b, f.term_b) AS term_b,
       CAST(coalesce(b.common, 0) AS BIGINT) AS common_base,
       CAST(coalesce(f.common, 0) AS BIGINT) AS common_full,
       CASE WHEN b.term_a IS NULL THEN 'added'
            WHEN f.term_a IS NULL THEN 'dropped'
            WHEN f.common = b.common THEN 'stable'
            ELSE 'support_changed' END AS status,
       CAST(coalesce(f.common, 0) - coalesce(b.common, 0) AS BIGINT)
           AS delta_support
FROM base b FULL OUTER JOIN full_g f
  ON f.term_a = b.term_a AND f.term_b = b.term_b
"""


@register("kg_snapshot_diff", _SNAP_DIFF_SQL)
def kg_snapshot_diff(spark, sf_dir):
    """KG snapshot DIFF — the human-readable face of the IVM family
    (kg_incremental_edges proves the merge; this reports what the delta
    DID): full-outer edge comparison between the base partition's graph
    and the full corpus graph, each edge labeled added / dropped /
    stable / support_changed with its support delta. 'dropped' is
    structurally possible here because the threshold is applied per
    snapshot (an edge above threshold on 80% of docs can stay, gain, or
    — with a different corpus — fall away); the delta column is what a
    nightly KG build publishes as its change log. One full-outer
    vocabulary-scale join over two grouped aggregates."""
    d = _t(spark, sf_dir, "documents")

    def edges(docs):
        m = (kg_docs.doc_mentions(spark, docs)
             .select("doc_id", "term").distinct())
        a = m.select("doc_id", F.col("term").alias("term_a"))
        b = m.select("doc_id", F.col("term").alias("term_b"))
        return (a.join(b, "doc_id")
                .filter(F.col("term_a") < F.col("term_b"))
                .groupBy("term_a", "term_b")
                .agg(F.count(F.lit(1)).cast("long").alias("common"))
                .filter(F.col("common") >= 2))

    b = edges(d.filter(F.col("doc_id") % 5 < 4)) \
        .withColumnRenamed("common", "cb")
    f = edges(d).withColumnRenamed("common", "cf")
    j = b.join(f, ["term_a", "term_b"], "full_outer")
    return j.select(
        "term_a", "term_b",
        F.coalesce("cb", F.lit(0)).cast("long").alias("common_base"),
        F.coalesce("cf", F.lit(0)).cast("long").alias("common_full"),
        F.when(F.col("cb").isNull(), "added")
        .when(F.col("cf").isNull(), "dropped")
        .when(F.col("cf") == F.col("cb"), "stable")
        .otherwise("support_changed").alias("status"),
        (F.coalesce("cf", F.lit(0)) - F.coalesce("cb", F.lit(0)))
        .cast("long").alias("delta_support"))


def _sgi_fixture_sql(n: int = 26, seed: int = 42) -> str:
    """Oracle for the REAL SGI decode path: pixels are pure formulas of
    (x, y, id); a bottom-up row flip miss, a planar/interleave mixup, a
    wrong RLE count bit or a broken start/length table flips the hash
    for the odd (RLE) ids."""
    rows = []
    for i in range(n):
        w = 13 + (i * 5 + seed) % 12
        h = 10 + (i * 7 + seed) % 9
        rs = sum(((x // 5) * 11 + y * 3 + i) % 256
                 for y in range(h) for x in range(w))
        gs = sum(((x // 4) * 7 + y * 5 + i * 3) % 256
                 for y in range(h) for x in range(w))
        bs = sum(((x // 6) * 13 + y + i * 7) % 256
                 for y in range(h) for x in range(w))
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_sgi_features", _sgi_fixture_sql())
def multimodal_sgi_features(spark, sf_dir):
    """REAL SGI (.rgb) decode end to end (sources/multimodal.decode_sgi):
    512-byte big-endian header, channel-PLANAR bottom-up rows (both
    quirks the other codecs don't have), verbatim and per-row RLE with
    offset/length tables (count-in-low-7-bits, high bit = literal copy,
    zero terminator). Checked against the pure-Python channel-mean
    re-derivation from the pixel formulas."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_sgi_media,
    )
    out = extract_image_features_real(synthetic_sgi_media(spark, 26))
    return out.select("media_id", "width", "height",
                      "r_mean", "g_mean", "b_mean")


_CORE_PERIPHERY_SQL = f"""
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), deg AS (
  SELECT term, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS term FROM e UNION ALL SELECT b FROM e
  ) GROUP BY term
), rk AS (
  SELECT term, degree,
         CAST(row_number() OVER (ORDER BY degree DESC, term) AS BIGINT)
             AS rank
  FROM deg
), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
er AS (
  SELECT ra.rank AS ra, rb.rank AS rb
  FROM e JOIN rk ra ON ra.term = e.a JOIN rk rb ON rb.term = e.b
), ks AS (
  SELECT rank AS k FROM rk WHERE rank < (SELECT n FROM n)
), sc AS (
  SELECT ks.k,
         CAST(count(*) FILTER (WHERE greatest(er.ra, er.rb) <= ks.k)
              AS BIGINT) AS cc,
         CAST(count(*) FILTER (WHERE least(er.ra, er.rb) > ks.k)
              AS BIGINT) AS pp
  FROM ks CROSS JOIN er GROUP BY ks.k
), best AS (
  SELECT k, cc + ((SELECT n FROM n) - k) * ((SELECT n FROM n) - k - 1) // 2
             - pp AS score
  FROM sc
  ORDER BY score DESC, k ASC LIMIT 1
)
SELECT rk.term, rk.degree, rk.rank,
       CASE WHEN rk.rank <= best.k THEN 'core' ELSE 'periphery' END AS role,
       best.k AS best_k, CAST(best.score AS BIGINT) AS fit_score
FROM rk CROSS JOIN best
"""


@register("kg_core_periphery", _CORE_PERIPHERY_SQL)
def kg_core_periphery(spark, sf_dir):
    """Discrete core-periphery decomposition (Borgatti & Everett 1999,
    degree-ordered sweep): nodes ranked by degree, every split point k
    scored by agreement with the ideal pattern — present core-core edges
    PLUS absent periphery-periphery edges — and the argmax split labels
    each node core/periphery. The mesoscale structure lens next to
    kg_kcore_docs (k-core is a local threshold; this is a global
    two-block fit) and kg_rich_club_docs. Exact integer scoring,
    deterministic tie-break toward the smaller core. Plan: one degree
    rank, a |k|×|edges| conditional-count grid (both vocabulary-scale);
    at web scale the sweep runs on the degree-ranked edge list as k
    cumulative counts — two sorted prefix sums, no grid."""
    e = _cooc_edges(spark, sf_dir, 2).select(
        F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    deg = (e.select(F.col("a").alias("term"))
           .unionAll(e.select("b"))
           .groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                .alias("degree")))
    wrk = Window.orderBy(F.desc("degree"), F.asc("term"))
    rk = deg.withColumn("rank", F.row_number().over(wrk).cast("long"))
    n_nodes = rk.count()  # vocabulary-sized constant
    er = (e.join(rk.select(F.col("term").alias("a"),
                           F.col("rank").alias("ra")), "a")
          .join(rk.select(F.col("term").alias("b"),
                          F.col("rank").alias("rb")), "b")
          .select("ra", "rb"))
    ks = spark.range(1, n_nodes).select(F.col("id").alias("k"))
    sc = (ks.crossJoin(er)
          .groupBy("k")
          .agg(F.sum(F.when(F.greatest("ra", "rb") <= F.col("k"), 1)
                     .otherwise(0)).cast("long").alias("cc"),
               F.sum(F.when(F.least("ra", "rb") > F.col("k"), 1)
                     .otherwise(0)).cast("long").alias("pp")))
    score = (F.col("cc")
             + (F.lit(n_nodes) - F.col("k"))
             * (F.lit(n_nodes) - F.col("k") - 1) / 2
             - F.col("pp")).cast("long")
    wbest = Window.orderBy(F.desc("score"), F.asc("k"))
    best = (sc.select("k", score.alias("score"))
            .withColumn("rn", F.row_number().over(wbest))
            .filter(F.col("rn") == 1).select("k", "score"))
    return (rk.crossJoin(F.broadcast(best))
            .select("term", "degree", "rank",
                    F.when(F.col("rank") <= F.col("k"), "core")
                    .otherwise("periphery").alias("role"),
                    F.col("k").alias("best_k"),
                    F.col("score").cast("long").alias("fit_score")))


_KN_SQL = """
WITH w AS (
  SELECT string_split(text, ' ') AS ws FROM documents
), bg AS (
  SELECT unnest(list_transform(range(1, len(ws)),
                i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS p
  FROM w WHERE len(ws) >= 2
), c AS (
  SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS c
  FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1f
  FROM c GROUP BY w1
), rev AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM c GROUP BY w2
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n1all FROM c
)
SELECT c.w1, c.w2, c.c,
       CAST((greatest(4 * c.c - 3, 0) * tot.n1all + 3 * c1.n1f * rev.n1r)
            * 1000000000
            // (4 * c1.c1 * tot.n1all) AS BIGINT) AS pkn_e9
FROM c JOIN c1 ON c1.w1 = c.w1 JOIN rev ON rev.w2 = c.w2 CROSS JOIN tot
"""


@register("text_kneser_ney_bigram", _KN_SQL)
def text_kneser_ney_bigram(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probabilities (D = 0.75) — the
    canonical LM smoothing next to text_good_turing and text_bigram_lm's
    MLE: P(w₂|w₁) = max(c−D,0)/c(w₁) + D·N₁₊(w₁·)/c(w₁) · P_cont(w₂)
    with the CONTINUATION unigram P_cont = N₁₊(·w₂)/N₁₊(··); with
    D = 3/4 the whole expression clears to one exact integer quotient
    (max(4c−3,0)·N + 3·N₁₊(w₁·)·N₁₊(·w₂)) / (4·c(w₁)·N), e9-floored
    once per observed bigram. Plan: one exploded bigram aggregate, two
    marginal rollups, a broadcast scalar — the smoothing table is
    vocabulary²-bounded at any corpus size."""
    d = _t(spark, sf_dir, "documents")
    bg = (d.select(F.split("text", " ").alias("ws"))
          .filter(F.size("ws") >= 2)
          .select(F.explode(F.expr(
              "transform(sequence(1, size(ws) - 1),"
              " i -> struct(element_at(ws, i) AS w1,"
              " element_at(ws, i + 1) AS w2))")).alias("p"))
          .select("p.w1", "p.w2"))
    c = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long")
                                   .alias("c"))
    c1 = c.groupBy("w1").agg(F.sum("c").cast("long").alias("c1"),
                             F.count(F.lit(1)).cast("long").alias("n1f"))
    rev = c.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1r"))
    tot = c.agg(F.count(F.lit(1)).cast("long").alias("n1all"))
    return (c.join(c1, "w1").join(rev, "w2")
            .crossJoin(F.broadcast(tot))
            .select("w1", "w2", "c", F.expr(
                "CAST((greatest(4 * c - 3, 0) * n1all + 3 * n1f * n1r)"
                " * 1000000000 div (4 * c1 * n1all) AS BIGINT)")
                .alias("pkn_e9")))


def _ilbm_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the ILBM decode path: index patterns and the 16-color
    palette are pure formulas, so channel means are re-derived in plain
    Python — a planar/chunky bit slip, an odd-chunk pad miss or a
    ByteRun1 count error (the -128 no-op, the 257-n replicate) flips the
    hash for the odd (compressed) ids."""
    pal = [((i * 37) % 256, (i * 81) % 256, (i * 151) % 256)
           for i in range(16)]
    rows = []
    for i in range(n):
        w = 17 + (i * 5 + seed) % 14
        h = 9 + (i * 7 + seed) % 8
        rs = gs = bs = 0
        for y in range(h):
            for x in range(w):
                r, g, b = pal[((x // 4) * 3 + y * 5 + i) % 16]
                rs += r
                gs += g
                bs += b
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_ilbm_features", _ilbm_fixture_sql())
def multimodal_ilbm_features(spark, sf_dir):
    """REAL Amiga IFF ILBM decode end to end
    (sources/multimodal.decode_ilbm): FORM container walk with
    even-padded chunks, BMHD/CMAP/BODY, per-scanline ByteRun1 (PackBits)
    expansion, INTERLEAVED-BITPLANE planar→chunky gather (MSB-first, the
    one bit layout no other codec here exercises), palette lookup —
    checked against the pure-Python channel-mean re-derivation from the
    index and palette formulas."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_ilbm_media,
    )
    out = extract_image_features_real(synthetic_ilbm_media(spark, 24))
    return out.select("media_id", "width", "height",
                      "r_mean", "g_mean", "b_mean")


_EGO_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), deg AS (
  SELECT term AS node, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT a AS term FROM e UNION ALL SELECT b FROM e
  ) GROUP BY term
), tri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
    SELECT e1.a AS node FROM e e1 JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    UNION ALL
    SELECT e1.b FROM e e1 JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    UNION ALL
    SELECT e2.b FROM e e1 JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
  ) GROUP BY node
)
SELECT deg.node, deg.n AS n_alters,
       CAST(coalesce(tri.t, 0) AS BIGINT) AS ego_ties,
       CAST((deg.n * deg.n - 2 * coalesce(tri.t, 0)) * 1000000 // deg.n
            AS BIGINT) AS effective_size_e6,
       CAST(CASE WHEN deg.n >= 2
                 THEN 2 * coalesce(tri.t, 0) * 1000000
                      // (deg.n * (deg.n - 1)) ELSE 0 END AS BIGINT)
           AS ego_density_e6
FROM deg LEFT JOIN tri ON tri.node = deg.node
"""


@register("kg_ego_effective_size", _EGO_SQL)
def kg_ego_effective_size(spark, sf_dir):
    """Burt's structural-hole metrics per ego: effective size
    n − 2t/n (alters minus the redundancy their mutual ties create —
    t = ties among the ego's neighbors = the ego's triangle count) and
    ego-network density 2t/(n(n−1)) — the brokerage lens next to
    kg_triangles_docs' clustering coefficient (same ingredients, the
    social-capital reading). Exact e6 integer quotients; oracle reuses
    the oriented-triangle census with per-corner explosion. Plan: degree
    + triangle aggregates over the memoized edge table — at any graph
    scale the same two shuffles the triangle census already pays."""
    e = _cooc_edges(spark, sf_dir, 2).select(
        F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select("b"))
           .groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n")))
    e1 = e
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = (e1.join(e2, "b")
            .join(e3, (F.col("a") == F.col("a3"))
                  & (F.col("c") == F.col("c3")))
            .select("a", "b", "c"))
    corners = (tris.select(F.col("a").alias("node"))
               .unionAll(tris.select("b"))
               .unionAll(tris.select("c")))
    tri = corners.groupBy("node").agg(F.count(F.lit(1)).cast("long")
                                      .alias("t"))
    return (deg.join(tri, "node", "left")
            .select("node", F.col("n").alias("n_alters"),
                    F.coalesce("t", F.lit(0)).cast("long")
                    .alias("ego_ties"),
                    F.expr("CAST((n * n - 2 * coalesce(t, 0)) * 1000000"
                           " div n AS BIGINT)").alias("effective_size_e6"),
                    F.expr("CAST(CASE WHEN n >= 2 THEN 2 * coalesce(t, 0)"
                           " * 1000000 div (n * (n - 1)) ELSE 0 END"
                           " AS BIGINT)").alias("ego_density_e6")))


_TRI_SIG_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), deg AS (
  SELECT term, CAST(count(*) AS HUGEINT) AS d FROM (
    SELECT a AS term FROM e UNION ALL SELECT b FROM e
  ) GROUP BY term
), tri AS (
  SELECT CAST(count(*) AS HUGEINT) AS t
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), s AS (
  SELECT sum(d * (d - 1)) AS aa, sum(d) AS bb FROM deg
)
SELECT CAST(tri.t AS BIGINT) AS n_triangles,
       CAST(s.aa AS BIGINT) AS sum_d_dm1,
       CAST(s.bb AS BIGINT) AS sum_d,
       CAST(s.aa * s.aa * s.aa * 1000000 // (6 * s.bb * s.bb * s.bb)
            AS BIGINT) AS expected_e6,
       CAST(tri.t * 6 * s.bb * s.bb * s.bb * 1000000
            // (s.aa * s.aa * s.aa) AS BIGINT) AS obs_over_exp_e6
FROM tri CROSS JOIN s
"""


@register("kg_triangle_significance", _TRI_SIG_SQL)
def kg_triangle_significance(spark, sf_dir):
    """Triangle-count significance vs the CONFIGURATION-MODEL null
    (Newman): a degree-preserving random graph expects
    E[T] = (Σd(d−1)/Σd)³/6 triangles, so obs/expected ≫ 1 is the
    clustering signal that survives degree effects (the null-model lens
    kg_transitivity_docs lacks — raw clustering can be high purely from
    hubs). Both the expectation and the ratio are exact integer
    quotients of degree power sums. Plan: the degree aggregate + the
    oriented-triangle census the other graph queries already pay."""
    e = _cooc_edges(spark, sf_dir, 2).select(
        F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    dec = "decimal(38,0)"
    deg = (e.select(F.col("a").alias("term"))
           .unionAll(e.select("b"))
           .groupBy("term").agg(F.count(F.lit(1)).cast(dec).alias("d")))
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (e.join(e2, "b")
           .join(e3, (F.col("a") == F.col("a3"))
                 & (F.col("c") == F.col("c3")))
           .agg(F.count(F.lit(1)).cast(dec).alias("t")))
    s = deg.agg(F.sum(F.col("d") * (F.col("d") - 1)).alias("aa"),
                F.sum("d").alias("bb"))
    return (tri.crossJoin(F.broadcast(s))
            .select(F.col("t").cast("long").alias("n_triangles"),
                    F.col("aa").cast("long").alias("sum_d_dm1"),
                    F.col("bb").cast("long").alias("sum_d"),
                    F.expr("CAST(aa * aa * aa * 1000000"
                           " div (6 * bb * bb * bb) AS BIGINT)")
                    .alias("expected_e6"),
                    F.expr("CAST(t * 6 * bb * bb * bb * 1000000"
                           " div (aa * aa * aa) AS BIGINT)")
                    .alias("obs_over_exp_e6")))


_LC_M = 1024


_LC_SQL = f"""
WITH k AS (
  SELECT DISTINCT event_type,
         CAST(CAST(concat('0x', substr(md5(concat('lc:',
              CAST(event_id AS VARCHAR))), 1, 16)) AS UBIGINT)
              % {_LC_M} AS BIGINT) AS bkt,
         event_id
  FROM events
), agg AS (
  SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact,
         CAST(count(DISTINCT bkt) AS BIGINT) AS n_busy
  FROM k GROUP BY event_type
)
SELECT event_type, n_exact, n_busy,
       CAST({_LC_M} - n_busy AS BIGINT) AS n_zero,
       CAST(CASE WHEN n_busy < {_LC_M}
                 THEN floor({_LC_M} * ln({_LC_M}.0
                      / CAST({_LC_M} - n_busy AS DOUBLE)) * 1000000 + 0.5)
            END AS BIGINT) AS lc_est_e6
FROM agg
"""


@register("sketch_linear_counting", _LC_SQL)
def sketch_linear_counting(spark, sf_dir):
    """Linear (probabilistic) counting (Whang et al., TODS 1990) — the
    small-range estimator HLL's correction regime defers to, as its own
    oracled op: md5-derived occupancy of a 1024-bit bitmap, estimate
    m·ln(m/zeros) (one ln of an exact integer ratio), NULL when the map
    saturates. The n_exact column rides along so the estimator's error
    is visible. One distinct aggregate; the bitmap is register-scale."""
    e = _t(spark, sf_dir, "events")
    bkt = (F.conv(F.substring(F.md5(F.concat(
        F.lit("lc:"), F.col("event_id").cast("string"))), 1, 16), 16, 10)
        .cast("decimal(38,0)") % _LC_M).cast("long")
    agg = (e.select("event_type", "event_id", bkt.alias("bkt"))
           .groupBy("event_type")
           .agg(F.countDistinct("event_id").cast("long").alias("n_exact"),
                F.countDistinct("bkt").cast("long").alias("n_busy")))
    return agg.select(
        "event_type", "n_exact", "n_busy",
        (F.lit(_LC_M) - F.col("n_busy")).cast("long").alias("n_zero"),
        F.expr(f"CAST(CASE WHEN n_busy < {_LC_M}"
               f" THEN floor({_LC_M} * ln({_LC_M}.0"
               f" / CAST({_LC_M} - n_busy AS DOUBLE)) * 1000000 + 0.5)"
               f" END AS BIGINT)").alias("lc_est_e6"))


_KATZ_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), u AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e
), p1 AS (
  SELECT src AS x, dst AS z, CAST(1 AS HUGEINT) AS w FROM u
), p2 AS (
  SELECT a.src AS x, b.dst AS z, CAST(count(*) AS HUGEINT) AS w
  FROM u a JOIN u b ON b.src = a.dst
  GROUP BY 1, 2
), p3 AS (
  SELECT a.src AS x, c.dst AS z, CAST(count(*) AS HUGEINT) AS w
  FROM u a JOIN u b ON b.src = a.dst JOIN u c ON c.src = b.dst
  GROUP BY 1, 2
), katz AS (
  SELECT x, z, CAST(sum(w) AS BIGINT) AS katz_x512
  FROM (
    SELECT x, z, w * 64 AS w FROM p1
    UNION ALL SELECT x, z, w * 8 FROM p2
    UNION ALL SELECT x, z, w FROM p3
  ) GROUP BY x, z
)
SELECT x, z, katz_x512 FROM katz WHERE x < z
"""


@register("kg_katz_index", _KATZ_SQL)
def kg_katz_index(spark, sf_dir):
    """Katz similarity index truncated at path length 3 with β = 1/8:
    Σ_k β^k·paths_k(x,z), cross-multiplied by 8³ so the score is the
    EXACT integer 64·A + 8·A² + A³ (walk counts, not simple paths — the
    textbook definition) — the path-based link predictor next to the
    neighborhood-based Adamic-Adar/CN family (kg_link_scores_docs):
    Katz sees length-3 evidence those cannot. Upper-triangle output.
    Plan: two frontier equi-joins (A², A³) over the doubled edge list +
    one grouped sum — each power is the standard sparse matrix-product
    shuffle at any graph scale."""
    e = _cooc_edges(spark, sf_dir, 2).select(
        F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    dec = "decimal(38,0)"
    u = (e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
         .unionAll(e.select("b", "a")))
    p1 = u.select(F.col("src").alias("x"), F.col("dst").alias("z"),
                  F.lit(64).cast(dec).alias("w"))
    ab = u.select(F.col("src").alias("x"), F.col("dst").alias("m1"))
    bc = u.select(F.col("src").alias("m1"), F.col("dst").alias("z"))
    p2 = (ab.join(bc, "m1").groupBy("x", "z")
          .agg((F.count(F.lit(1)) * 8).cast(dec).alias("w")))
    cd = u.select(F.col("src").alias("m2"), F.col("dst").alias("z"))
    p3 = (ab.join(bc.select(F.col("m1"), F.col("z").alias("m2")), "m1")
          .join(cd, "m2")
          .groupBy("x", "z")
          .agg(F.count(F.lit(1)).cast(dec).alias("w")))
    katz = (p1.unionAll(p2).unionAll(p3)
            .groupBy("x", "z")
            .agg(F.sum("w").cast("long").alias("katz_x512")))
    return katz.filter(F.col("x") < F.col("z"))


_BURSTINESS_SQL = """
WITH seq AS (
  SELECT event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS HUGEINT)
           - CAST(floor(epoch(lag(CAST(ts AS TIMESTAMP))
                 OVER (PARTITION BY event_type, user_id
                       ORDER BY ts, event_id))) AS HUGEINT) AS gap
  FROM events
), g AS (
  SELECT event_type, CAST(count(*) AS HUGEINT) AS n, sum(gap) AS s,
         sum(gap * gap) AS ss
  FROM seq WHERE gap IS NOT NULL GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
       CAST(s * 1000000 // n AS BIGINT) AS mean_gap_e6,
       CAST(floor((sqrt(CAST(n * ss - s * s AS DOUBLE)) - CAST(s AS DOUBLE))
                  / (sqrt(CAST(n * ss - s * s AS DOUBLE)) + CAST(s AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS burstiness_e6
FROM g
"""


_MORAN_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), attr AS (
  SELECT term, CAST(count(*) AS HUGEINT) AS x FROM m GROUP BY term
), nodes AS (
  SELECT attr.term, attr.x FROM attr
  WHERE attr.term IN (SELECT a FROM e UNION SELECT b FROM e)
), g AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS s FROM nodes
), z AS (
  SELECT term, g.n * x - g.s AS z FROM nodes CROSS JOIN g
), num AS (
  SELECT sum(za.z * zb.z) AS cross_sum, CAST(count(*) AS HUGEINT) AS tw
  FROM e JOIN z za ON za.term = e.a JOIN z zb ON zb.term = e.b
), den AS (SELECT sum(z * z) AS zz FROM z)
SELECT CAST(g.n AS BIGINT) AS n_nodes, CAST(2 * num.tw AS BIGINT) AS sum_w,
       CAST(CASE WHEN num.cross_sum >= 0
                 THEN g.n * num.cross_sum * 1000000
                      // (2 * num.tw * den.zz)
                 ELSE -((g.n * (-num.cross_sum) * 1000000)
                        // (2 * num.tw * den.zz)) END AS BIGINT)
           AS moran_i_e6
FROM g CROSS JOIN num CROSS JOIN den
"""


@register("kg_moran_i", _MORAN_SQL)
def kg_moran_i(spark, sf_dir):
    """Moran's I autocorrelation of a node ATTRIBUTE over the KG — does
    document frequency cluster on the graph (hubs near hubs), the
    graph-homophily lens next to kg_assortativity_docs (which
    correlates DEGREES; this correlates an external attribute):
    I = (n/ΣW)·Σ_{{ij}} w_ij z_i z_j / Σz_i² with binary undirected
    weights, mean-cleared via z = n·x − S so everything is exact
    integers until one sign-decomposed e6 quotient. Plan: one attribute
    aggregate, one edge join against the z table, two reductions."""
    e = _cooc_edges(spark, sf_dir, 2).select(
        F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    dec = "decimal(38,0)"
    d = _t(spark, sf_dir, "documents")
    mm = kg_docs.doc_mentions(spark, d).select("doc_id", "term").distinct()
    attr = mm.groupBy("term").agg(F.count(F.lit(1)).cast(dec).alias("x"))
    nodes_in_e = (e.select(F.col("a").alias("term"))
                  .union(e.select("b")).distinct())
    nodes = attr.join(nodes_in_e, "term")
    g = nodes.agg(F.count(F.lit(1)).cast(dec).alias("n"),
                  F.sum("x").alias("s"))
    z = (nodes.crossJoin(F.broadcast(g))
         .select("term", (F.col("n") * F.col("x") - F.col("s"))
                 .alias("z")))
    num = (e.join(F.broadcast(z.select(F.col("term").alias("a"),
                                       F.col("z").alias("za"))), "a")
           .join(F.broadcast(z.select(F.col("term").alias("b"),
                                      F.col("z").alias("zb"))), "b")
           .agg(F.sum(F.col("za") * F.col("zb")).alias("cross_sum"),
                F.count(F.lit(1)).cast(dec).alias("tw")))
    den = z.agg(F.sum(F.col("z") * F.col("z")).alias("zz"))
    return (g.crossJoin(num).crossJoin(den)
            .select(F.col("n").cast("long").alias("n_nodes"),
                    (F.lit(2) * F.col("tw")).cast("long").alias("sum_w"),
                    F.expr("CAST(CASE WHEN cross_sum >= 0"
                           " THEN n * cross_sum * 1000000"
                           " div (2 * tw * zz)"
                           " ELSE -((n * (-cross_sum) * 1000000)"
                           " div (2 * tw * zz)) END AS BIGINT)")
                    .alias("moran_i_e6")))


_MOTIF4_SQL = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), deg AS (
  SELECT term, CAST(count(*) AS HUGEINT) AS d FROM (
    SELECT a AS term FROM e UNION ALL SELECT b FROM e
  ) GROUP BY term
), tri AS (
  SELECT CAST(count(*) AS HUGEINT) AS t
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), sq AS (
  -- non-induced 4-cycles: each wedge counted ONCE per ordered endpoint
  -- pair (u < v), each square pairs two wedges per diagonal and has two
  -- diagonals, hence the final halving
  SELECT CAST(coalesce(sum(p * (p - 1) // 2), 0) // 2 AS HUGEINT) AS c4
  FROM (
    SELECT x.a AS u, y.b AS v, CAST(count(*) AS HUGEINT) AS p
    FROM (SELECT a, b FROM e UNION ALL SELECT b, a FROM e) x
    JOIN (SELECT a, b FROM e UNION ALL SELECT b, a FROM e) y
      ON y.a = x.b AND y.b > x.a
    GROUP BY 1, 2
  )
), agg AS (
  SELECT CAST((SELECT count(*) FROM e) AS HUGEINT) AS n_edges,
         sum(d * (d - 1) // 2) AS wedges,
         sum(d * (d - 1) * (d - 2) // 6) AS claws
  FROM deg
), pe AS (
  SELECT sum((da.d - 1) * (db.d - 1)) AS epairs
  FROM e JOIN deg da ON da.term = e.a JOIN deg db ON db.term = e.b
)
SELECT CAST(agg.n_edges AS BIGINT) AS n_edges,
       CAST(agg.wedges AS BIGINT) AS wedges_p3,
       CAST(agg.claws AS BIGINT) AS claws_k13,
       CAST(tri.t AS BIGINT) AS triangles,
       CAST(pe.epairs - 3 * tri.t AS BIGINT) AS paths_p4,
       CAST(sq.c4 AS BIGINT) AS cycles_c4
FROM agg CROSS JOIN tri CROSS JOIN pe CROSS JOIN sq
"""


@register("kg_motif_census_4", _MOTIF4_SQL)
def kg_motif_census_4(spark, sf_dir):
    """Non-induced connected-motif census up to 4 nodes — the graphlet
    profile that fingerprints a network's local structure (Milo et al.
    2002): wedges Σ C(d,2), claws (K₁,₃) Σ C(d,3), triangles from the
    oriented census, P₄ paths via the identity Σ_{{(u,v)∈E}}
    (d_u−1)(d_v−1) − 3T (every triangle is counted 3× as a degenerate
    path), and C₄ cycles from the wedge-pair identity kg_squares_docs
    uses. All exact integers, all from ONE degree table + ONE triangle
    census + ONE wedge-endpoint aggregate — the same shuffles the
    individual graph queries already pay, here composed into the full
    profile row."""
    e = _cooc_edges(spark, sf_dir, 2).select(
        F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    dec = "decimal(38,0)"
    deg = (e.select(F.col("a").alias("term"))
           .unionAll(e.select("b"))
           .groupBy("term").agg(F.count(F.lit(1)).cast(dec).alias("d")))
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (e.join(e2, "b")
           .join(e3, (F.col("a") == F.col("a3"))
                 & (F.col("c") == F.col("c3")))
           .agg(F.count(F.lit(1)).cast(dec).alias("t")))
    und = (e.select(F.col("a").alias("x"), F.col("b").alias("y"))
           .unionAll(e.select("b", "a")))
    wedge_ends = (und.select(F.col("x").alias("a"), F.col("y").alias("m"))
                  .join(und.select(F.col("x").alias("m"),
                                   F.col("y").alias("b2")), "m")
                  .filter(F.col("b2") > F.col("a"))
                  .groupBy(F.col("a").alias("u"), F.col("b2").alias("v"))
                  .agg(F.count(F.lit(1)).cast(dec).alias("p")))
    sq = wedge_ends.agg(
        (F.coalesce(F.sum(F.expr("p * (p - 1) div 2")), F.lit(0)) / 2)
        .cast(dec).alias("c4"))
    agg = deg.agg(F.sum(F.expr("d * (d - 1) div 2")).cast(dec)
                  .alias("wedges"),
                  F.sum(F.expr("d * (d - 1) * (d - 2) div 6")).cast(dec)
                  .alias("claws"))
    ne = e.agg(F.count(F.lit(1)).cast(dec).alias("n_edges"))
    pe = (e.join(F.broadcast(deg.selectExpr("term AS a", "d AS da")), "a")
          .join(F.broadcast(deg.selectExpr("term AS b", "d AS db")), "b")
          .agg(F.sum((F.col("da") - 1) * (F.col("db") - 1))
               .alias("epairs")))
    return (ne.crossJoin(agg).crossJoin(tri).crossJoin(pe).crossJoin(sq)
            .select(F.col("n_edges").cast("long").alias("n_edges"),
                    F.col("wedges").cast("long").alias("wedges_p3"),
                    F.col("claws").cast("long").alias("claws_k13"),
                    F.col("t").cast("long").alias("triangles"),
                    (F.col("epairs") - 3 * F.col("t")).cast("long")
                    .alias("paths_p4"),
                    F.col("c4").cast("long").alias("cycles_c4")))


def _attack_sql(ks=(0, 1, 2, 3), n_rounds: int = 12) -> str:
    head = f"""
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {kg_docs.lexicon_values_sql()}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 2
), rk AS MATERIALIZED (
  SELECT term, row_number() OVER (ORDER BY d DESC, term) AS r
  FROM (SELECT term, count(*) AS d FROM (
          SELECT a AS term FROM e UNION ALL SELECT b FROM e
        ) GROUP BY term)
)"""
    outs = []
    parts = []
    for k in ks:
        parts.append(f""",
e{k} AS MATERIALIZED (
  SELECT e.a, e.b FROM e
  JOIN rk ra ON ra.term = e.a JOIN rk rb ON rb.term = e.b
  WHERE ra.r > {k} AND rb.r > {k}
), bd{k} AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e{k} UNION SELECT b, a FROM e{k}
), n{k} AS MATERIALIZED (SELECT DISTINCT node FROM bd{k}),
l{k}_0 AS (SELECT node, node AS lbl FROM n{k})""")
        for i in range(1, n_rounds + 1):
            parts.append(f""",
l{k}_{i} AS MATERIALIZED (
  SELECT nd.node, least(s.lbl, coalesce(nb.mn, s.lbl)) AS lbl
  FROM n{k} nd
  JOIN l{k}_{i - 1} s ON s.node = nd.node
  LEFT JOIN (SELECT bd{k}.node, min(pv.lbl) AS mn
             FROM bd{k} JOIN l{k}_{i - 1} pv ON pv.node = bd{k}.nbr
             GROUP BY bd{k}.node) nb ON nb.node = nd.node
)""")
        outs.append(f"""
SELECT {k} AS k_removed,
       (SELECT CAST(count(*) AS BIGINT) FROM n{k}) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e{k}) AS n_edges,
       coalesce((SELECT CAST(max(sz) AS BIGINT) FROM (
          SELECT count(*) AS sz FROM l{k}_{n_rounds} GROUP BY lbl)), 0)
           AS lcc_size""")
    return head + "".join(parts) + " UNION ALL ".join(outs)


@register("kg_attack_robustness", _attack_sql())
def kg_attack_robustness(spark, sf_dir):
    """Targeted-attack robustness curve (Albert-Jeong-Barabási 2000):
    remove the k highest-degree hubs (k = 0..3, degree-then-name rank)
    and measure the surviving graph's largest connected component via
    the REAL large-star/small-star CC operator each time — the
    resilience profile a KG operator reads before trusting hub-mediated
    connectivity (LCC collapse under hub removal = scale-free
    fragility). The oracle replays each k with the unrolled min-label
    recurrence. LCC is over non-isolated survivors (documented; 0 when
    no edges survive). Plan: one degree rank broadcast, then per k one
    filtered edge set through the iterated-join CC — the same plan
    the canonicalizer runs, four sizes of it."""
    from .operators.canonicalize import connected_components
    e = _cooc_edges(spark, sf_dir, 2).select(
        F.col("term_a").alias("a"), F.col("term_b").alias("b"))
    deg = (e.select(F.col("a").alias("term"))
           .unionAll(e.select("b"))
           .groupBy("term").agg(F.count(F.lit(1)).alias("d")))
    rk = deg.select("term", F.row_number().over(
        Window.orderBy(F.desc("d"), F.asc("term"))).alias("r"))
    outs = []
    for k in range(4):
        keep = rk.filter(F.col("r") > k).select("term")
        ek = (e.join(F.broadcast(keep.withColumnRenamed("term", "a")), "a")
              .join(F.broadcast(keep.withColumnRenamed("term", "b")), "b"))
        asn = connected_components(
            ek.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            driver_threshold=0)
        sizes = asn.groupBy("canon").agg(F.count(F.lit(1)).alias("sz"))
        stats = (asn.agg(F.countDistinct("norm_term").cast("long")
                         .alias("n_nodes"))
                 .crossJoin(ek.agg(F.count(F.lit(1)).cast("long")
                                   .alias("n_edges")))
                 .crossJoin(sizes.agg(
                     F.coalesce(F.max("sz"), F.lit(0)).cast("long")
                     .alias("lcc_size"))))
        outs.append(stats.select(F.lit(k).alias("k_removed"),
                                 "n_nodes", "n_edges", "lcc_size"))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


_HEAPS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), per_doc_tokens AS (
  SELECT doc_id // 100 AS bucket, CAST(count(*) AS HUGEINT) AS toks
  FROM tok GROUP BY 1
), first_seen AS (
  SELECT word, min(doc_id) // 100 AS bucket FROM tok
  WHERE word <> '' GROUP BY word
), curve AS (
  SELECT t.bucket,
         sum(t.toks) OVER (ORDER BY t.bucket) AS n,
         sum(coalesce(v.new_words, 0)) OVER (ORDER BY t.bucket) AS v
  FROM per_doc_tokens t
  LEFT JOIN (SELECT bucket, CAST(count(*) AS HUGEINT) AS new_words
             FROM first_seen GROUP BY bucket) v ON v.bucket = t.bucket
), pts AS (
  SELECT CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS HUGEINT)
             AS lx,
         CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000 + 0.5) AS HUGEINT)
             AS ly
  FROM curve WHERE n > 0 AND v > 0
), g AS (
  SELECT CAST(count(*) AS HUGEINT) AS k, sum(lx) AS sx, sum(ly) AS sy,
         sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
  FROM pts
)
SELECT CAST(k AS BIGINT) AS n_points,
       CAST(CASE WHEN k * sxy - sx * sy >= 0
                 THEN (k * sxy - sx * sy) * 1000000
                      // (k * sxx - sx * sx)
                 ELSE -(((sx * sy - k * sxy) * 1000000)
                        // (k * sxx - sx * sx)) END AS BIGINT) AS beta_e6,
       CAST(CASE WHEN sy * sxx - sx * sxy >= 0
                 THEN (sy * sxx - sx * sxy) // (k * sxx - sx * sx)
                 ELSE -((sx * sxy - sy * sxx)
                        // (k * sxx - sx * sx)) END AS BIGINT)
           AS ln_k_e6
FROM g
"""


@register("text_heaps_law_fit", _HEAPS_SQL)
def text_heaps_law_fit(spark, sf_dir):
    """Heaps' law fit V = K·nᵝ over the 100-doc vocabulary-growth curve
    (the regression text_vocab_growth only plots): per-bucket cumulative
    token and vocab counts give (ln n, ln V) points — each log e6-floored
    once from exact integers — and β / ln K come from the exact-integer
    2-parameter OLS (Cramer), sign-decomposed quotients. β < 1 is the
    sublinear vocabulary scaling every tokenizer-budget plan assumes.
    Plan: one token scan feeding both the bucket-token totals and the
    min-first-seen vocab counts, a bucket-scale window, a 5-cell
    reduction."""
    d = _t(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    pdt = (tok.groupBy((F.col("doc_id") / 100).cast("long").alias("bucket"))
           .agg(F.count(F.lit(1)).cast(dec).alias("toks")))
    fs = (tok.filter(F.col("word") != "")
          .groupBy("word")
          .agg((F.min("doc_id") / 100).cast("long").alias("bucket")))
    nw = fs.groupBy("bucket").agg(F.count(F.lit(1)).cast(dec)
                                  .alias("new_words"))
    w = Window.orderBy("bucket")
    curve = (pdt.join(nw, "bucket", "left")
             .select("bucket", F.sum("toks").over(w).alias("n"),
                     F.sum(F.coalesce("new_words", F.lit(0))).over(w)
                     .alias("v")))
    pts = (curve.filter((F.col("n") > 0) & (F.col("v") > 0))
           .select(F.expr("CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000"
                          " + 0.5) AS DECIMAL(38,0))").alias("lx"),
                   F.expr("CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000"
                          " + 0.5) AS DECIMAL(38,0))").alias("ly")))
    g = pts.agg(F.count(F.lit(1)).cast(dec).alias("k"),
                F.sum("lx").alias("sx"), F.sum("ly").alias("sy"),
                F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
                F.sum(F.col("lx") * F.col("lx")).alias("sxx"))
    return g.select(
        F.col("k").cast("long").alias("n_points"),
        F.expr("CAST(CASE WHEN k * sxy - sx * sy >= 0"
               " THEN (k * sxy - sx * sy) * 1000000"
               " div (k * sxx - sx * sx)"
               " ELSE -(((sx * sy - k * sxy) * 1000000)"
               " div (k * sxx - sx * sx)) END AS BIGINT)").alias("beta_e6"),
        F.expr("CAST(CASE WHEN sy * sxx - sx * sxy >= 0"
               " THEN (sy * sxx - sx * sxy) div (k * sxx - sx * sx)"
               " ELSE -((sx * sxy - sy * sxx)"
               " div (k * sxx - sx * sx)) END AS BIGINT)").alias("ln_k_e6"))


def _gzip_fixture_sql(n: int = 20, seed: int = 42) -> str:
    """Oracle for the hand-rolled RFC 1952 multi-member walk: every
    manifest column is re-derived from the pure (shard_id, j, seed) spec
    formulas (CRC via zlib.crc32 on the spec content, never on gzip
    bytes); flg/os are pinned per style (stdlib writer: FNAME|XFL2|OS255;
    hand-built: FHCRC|FEXTRA|FNAME|FCOMMENT|OS3). A missed FEXTRA skip, an
    unverified header CRC16, a wrong trailer offset in the concatenated
    stream or an ISIZE mixup flips the hash; crc_ok is asserted 1."""
    import hashlib as _h
    import zlib as _z
    from knowledge_extraction_pipeline_spark.sources.archives import (
        gzip_member_spec,
    )
    rows = []
    for i in range(n):
        for j, (name, content, mtime, style) in enumerate(
                gzip_member_spec(i, seed)):
            crc = _z.crc32(content) & 0xFFFFFFFF
            flg, osb = (8, 255) if style == 0 else (0x1E, 3)
            rows.append(
                f"({i}, {j}, '{name}', {mtime}, {flg}, {osb},"
                f" {len(content)}, {crc}, 1,"
                f" '{_h.md5(content).hexdigest()}')")
    return (f"SELECT CAST(shard_id AS BIGINT) AS shard_id,"
            f" CAST(member_idx AS INTEGER) AS member_idx, name,"
            f" CAST(mtime AS BIGINT) AS mtime, CAST(flg AS INTEGER) AS flg,"
            f" CAST(os_byte AS INTEGER) AS os_byte,"
            f" CAST(usize AS BIGINT) AS usize, CAST(crc32 AS BIGINT) AS crc32,"
            f" CAST(crc_ok AS INTEGER) AS crc_ok, content_md5"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(shard_id, member_idx, name, mtime, flg, os_byte, usize,"
            f" crc32, crc_ok, content_md5)")


@register("multimodal_gzip_members", _gzip_fixture_sql())
def multimodal_gzip_members(spark, sf_dir):
    """Concatenated multi-member gzip shard manifest via the HAND-ROLLED
    RFC 1952 walk (sources/archives.parse_gzip_members): fixed header,
    FEXTRA/FNAME/FCOMMENT branches, header CRC16 verified when FHCRC is
    set, raw-deflate body inflated with the zlib primitive (wbits=-15,
    never gzip.decompress), member boundary recovered from the
    decompressor's unused tail, CRC-32 + ISIZE trailer re-checked. Mixed
    stdlib-written and hand-built members so both flag families are
    exercised against independent bytes. This is the .jsonl.gz ingestion
    surface of a web-crawl corpus: one mapInPandas over the binary shard
    column, so a 10⁹-member listing is a single narrow scan."""
    from .sources.archives import gzip_member_manifest, synthetic_gzip_shards
    out = gzip_member_manifest(synthetic_gzip_shards(spark, 20))
    return out.select("shard_id",
                      F.col("member_idx").cast("int").alias("member_idx"),
                      "name", F.col("mtime").cast("long").alias("mtime"),
                      F.col("flg").cast("int").alias("flg"),
                      F.col("os_byte").cast("int").alias("os_byte"),
                      F.col("usize").cast("long").alias("usize"),
                      F.col("crc32").cast("long").alias("crc32"),
                      F.col("crc_ok").cast("int").alias("crc_ok"),
                      "content_md5")


_BOWTIE_SQL_TPL = """
WITH RECURSIVE pos AS (
  SELECT doc_id, term,
         list_position(string_split(text, ' '), term) AS fp
  FROM documents, {lex}
  WHERE list_position(string_split(text, ' '), term) > 0
), cnt AS (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.fp < b.fp
  GROUP BY 1, 2
), de AS (
  SELECT c1.src, c1.dst
  FROM cnt c1 JOIN cnt c2 ON c1.src = c2.dst AND c1.dst = c2.src
  WHERE c1.w >= c2.w + 12
), verts AS (
  -- NOTE: inside WITH RECURSIVE, DuckDB 1.0 accumulates a bare
  -- `a UNION b` CTE body without deduplicating across the two arms
  -- (union-all-like); the explicit DISTINCT-over-UNION-ALL keeps the
  -- vertex set a set
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM de UNION ALL SELECT dst FROM de) u
), reach(a, b) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN de e ON r.b = e.src
), scc AS (
  SELECT r1.a AS v, min(r1.b) AS sid
  FROM reach r1
  WHERE EXISTS (SELECT 1 FROM reach r2 WHERE r2.a = r1.b AND r2.b = r1.a)
  GROUP BY 1
), corev AS (
  SELECT v FROM scc WHERE sid = (
    SELECT sid FROM (SELECT sid, count(*) AS sz FROM scc GROUP BY 1
                     ORDER BY sz DESC, sid LIMIT 1))
), fwd AS (
  SELECT DISTINCT r.b AS v FROM reach r
  WHERE r.a IN (SELECT v FROM corev)
), bwd AS (
  SELECT DISTINCT r.a AS v FROM reach r
  WHERE r.b IN (SELECT v FROM corev)
), inn AS (
  SELECT v FROM bwd WHERE v NOT IN (SELECT v FROM corev)
), outt AS (
  SELECT v FROM fwd WHERE v NOT IN (SELECT v FROM corev)
), from_in AS (
  SELECT DISTINCT r.b AS v FROM reach r WHERE r.a IN (SELECT v FROM inn)
), to_out AS (
  SELECT DISTINCT r.a AS v FROM reach r WHERE r.b IN (SELECT v FROM outt)
), cls AS (
  SELECT v, CASE WHEN v IN (SELECT v FROM corev) THEN 'CORE'
                 WHEN v IN (SELECT v FROM inn) THEN 'IN'
                 WHEN v IN (SELECT v FROM outt) THEN 'OUT'
                 WHEN v IN (SELECT v FROM from_in)
                      AND v IN (SELECT v FROM to_out) THEN 'TUBE'
                 WHEN v IN (SELECT v FROM from_in) THEN 'TENDRIL_IN'
                 WHEN v IN (SELECT v FROM to_out) THEN 'TENDRIL_OUT'
                 ELSE 'DISCONNECTED' END AS bowtie_class
  FROM verts
)
SELECT bowtie_class, CAST(count(*) AS BIGINT) AS n_nodes,
       min(v) AS first_term
FROM cls GROUP BY 1
"""


@register("kg_bowtie_docs",
          _BOWTIE_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_bowtie_docs(spark, sf_dir):
    """Bowtie decomposition (Broder et al. 2000, the web-graph macro
    structure) of the directed first-mention-order tournament graph that
    kg_scc_docs builds: CORE = largest SCC, IN reaches it, OUT is
    reachable from it, residue split into TUBE / TENDRIL_IN /
    TENDRIL_OUT / DISCONNECTED by (reachable-from-IN, reaches-OUT). Runs
    the REAL distributed pieces — the FW-BW SCC operator plus four
    set-reachability fixpoints, each round one equi-join + distinct —
    against the oracle's transitive-closure classification, so the hash
    match proves the frontier propagation, the largest-SCC tiebreak AND
    the residue logic. Scale shape: same as kg_scc_docs — data-sized work
    is the one mention-pair count; every fixpoint runs on the
    vocabulary projection."""
    from .operators.graph_algos import bowtie_decomposition
    de = _mention_order_edges(spark, sf_dir)
    cls = bowtie_decomposition(de, src="src", dst="dst")
    return (cls.groupBy("bowtie_class")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                 F.min("node").alias("first_term")))


_DBSCAN_SQL = """
WITH RECURSIVE e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), adj AS (
  SELECT a.id AS i, b.id AS j
  FROM e a JOIN e b ON a.id <> b.id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.30
), deg AS (SELECT i, count(*) AS d FROM adj GROUP BY 1),
core AS (SELECT i FROM deg WHERE d + 1 >= 4),
ce AS (
  SELECT x.i, x.j FROM adj x
  WHERE x.i IN (SELECT i FROM core) AND x.j IN (SELECT i FROM core)
), reach(a, b) AS (
  SELECT i, i FROM core
  UNION
  SELECT r.a, x.j FROM reach r JOIN ce x ON x.i = r.b
), clus AS (
  SELECT a AS i, min(b) AS cid FROM reach GROUP BY 1
), bord AS (
  SELECT adj.i, min(c.cid) AS bcid
  FROM adj JOIN clus c ON c.i = adj.j GROUP BY 1
)
SELECT e.id AS vec_id,
       CASE WHEN cl.cid IS NOT NULL THEN 'core'
            WHEN b.bcid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(coalesce(cl.cid, b.bcid) AS BIGINT) AS cluster_id
FROM e
LEFT JOIN clus cl ON cl.i = e.id
LEFT JOIN bord b ON b.i = e.id
"""


@register("ann_dbscan_clusters", _DBSCAN_SQL)
def ann_dbscan_clusters(spark, sf_dir):
    """DBSCAN density clustering over the embedding corpus (cosine ≥ 0.30
    neighborhood, min_pts 4): per-vector role (core / border / noise) and
    cluster id — the no-k clustering complement of the kmeans family, and
    the embedding-space outlier detector a corpus-quality pipeline runs
    before sampling. Clusters are connected components of the core-core
    graph computed by the REAL distributed large-star/small-star operator
    (cluster_id = numeric min member, zero-pad/cast proven by the hash);
    border points take the smallest core-neighbor cluster. The oracle
    re-derives everything through a transitive-closure min-label
    recursion, so the hash match pins core/border/noise boundaries AND
    component labels. Brute pair generation is the disclosed gate-scale
    baseline (ann_knn_graph posture); at 10⁹ rows candidates come from
    the LSH band join with identical downstream semantics."""
    from .operators.similarity import dbscan_labels
    return dbscan_labels(_t(spark, sf_dir, "embeddings"),
                         threshold=0.30, min_pts=4)


def _mime_fixture_sql(n: int = 24, seed: int = 42) -> str:
    """Oracle for the hand-rolled MIME walk: every manifest column is
    re-derived from the pure (msg_id, j, seed) spec formulas — decoded
    sizes and MD5s come from the ORIGINAL content, so a wrong boundary
    split (phantom trailing newline), a base64 padding slip or a missed
    quoted-printable soft break flips the hash."""
    import hashlib as _h
    from knowledge_extraction_pipeline_spark.sources.mime import (
        mime_part_spec,
    )
    rows = []
    for i in range(n):
        for j, (ctype, enc, name, content) in enumerate(
                mime_part_spec(i, seed)):
            nm = "NULL" if name is None else f"'{name}'"
            rows.append(f"({i}, {j}, '{ctype}', '{enc}', {nm},"
                        f" {len(content)},"
                        f" '{_h.md5(content).hexdigest()}')")
    return (f"SELECT CAST(msg_id AS BIGINT) AS msg_id,"
            f" CAST(part_idx AS INTEGER) AS part_idx, content_type,"
            f" encoding, CAST(filename AS VARCHAR) AS filename,"
            f" CAST(usize AS BIGINT) AS usize, content_md5"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(msg_id, part_idx, content_type, encoding, filename,"
            f" usize, content_md5)")


@register("multimodal_mime_parts", _mime_fixture_sql())
def multimodal_mime_parts(spark, sf_dir):
    """MIME multipart message manifest via the HAND-ROLLED RFC 2045/2046
    walk (sources/mime.parse_mime_parts): header unfolding, quoted/bare
    boundary parameter scan, strict `--boundary` delimiter lines with the
    CRLF-belongs-to-the-delimiter rule, and hand-written base64 and
    quoted-printable decoders (soft line breaks, =XX escapes) — never
    email.parser / base64 / quopri. Messages are written by the stdlib
    email package, so the parser faces independently-produced bytes; the
    oracle re-derives every column from the content formulas. This is the
    mail-corpus ingestion surface (mbox/EML shards): one mapInPandas over
    the binary column, no driver involvement."""
    from .sources.mime import mime_part_manifest, synthetic_mime_messages
    out = mime_part_manifest(synthetic_mime_messages(spark, 24))
    return out.select("msg_id",
                      F.col("part_idx").cast("int").alias("part_idx"),
                      "content_type", "encoding", "filename",
                      F.col("usize").cast("long").alias("usize"),
                      "content_md5")


_WP_SQL = """
WITH RECURSIVE w0 AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), wc AS (
  SELECT w, CAST(count(*) AS HUGEINT) AS c FROM w0 WHERE w <> ''
  GROUP BY 1
), topw AS (
  SELECT w AS piece FROM wc ORDER BY c DESC, w LIMIT 10
), pref AS (
  SELECT piece FROM (
    SELECT substring(w, 1, l) AS piece, sum(c) AS sc
    FROM wc, (VALUES (2), (3), (4)) t(l) WHERE length(w) > l
    GROUP BY 1 ORDER BY sc DESC, piece LIMIT 12) p
), suf AS (
  SELECT piece FROM (
    SELECT substring(w, length(w) - l + 1, l) AS piece, sum(c) AS sc
    FROM wc, (VALUES (2), (3), (4)) t(l) WHERE length(w) > l
    GROUP BY 1 ORDER BY sc DESC, piece LIMIT 20) p
), chars AS (
  SELECT DISTINCT unnest(list_transform(range(1, length(w) + 1),
                                        i -> substring(w, CAST(i AS INTEGER), 1)))
      AS piece
  FROM wc
), vstart AS (
  SELECT DISTINCT piece FROM (
    SELECT piece FROM topw UNION ALL SELECT piece FROM pref
    UNION ALL SELECT piece FROM chars) u
), vcont AS (
  SELECT DISTINCT piece FROM (
    SELECT piece FROM suf UNION ALL SELECT piece FROM chars) u
), st AS (
  SELECT w, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS toks,
         0 AS np
  FROM wc
  UNION ALL
  SELECT s.w, s.pos + b.l,
         s.toks || CASE WHEN s.pos = 1 THEN '' ELSE ' ##' END
                || substring(s.w, CAST(s.pos AS INTEGER), CAST(b.l AS INTEGER)),
         s.np + 1
  FROM st s, LATERAL (
    SELECT max(length(v.piece)) AS l FROM vstart v
    WHERE s.pos = 1
      AND substring(s.w, CAST(s.pos AS INTEGER), length(v.piece)) = v.piece
    UNION ALL
    SELECT max(length(v.piece)) FROM vcont v
    WHERE s.pos > 1
      AND substring(s.w, CAST(s.pos AS INTEGER), length(v.piece)) = v.piece
  ) b(l)
  WHERE s.pos <= length(s.w) AND b.l IS NOT NULL
), final AS (
  SELECT w, toks, np FROM st WHERE pos = length(w) + 1
)
SELECT wc.w AS word, CAST(wc.c AS BIGINT) AS n_occurrences,
       f.toks AS pieces, CAST(f.np AS INTEGER) AS n_pieces
FROM wc JOIN final f ON f.w = wc.w
"""


@register("text_wordpiece_encode", _WP_SQL)
def text_wordpiece_encode(spark, sf_dir):
    """WordPiece tokenization (Wu et al. 2016 / BERT): a corpus-derived
    vocabulary — top-10 whole words, top-12 weighted prefixes (len 2-4),
    top-20 weighted suffixes (len 2-4) as ## continuation pieces, plus
    every single character on both sides (ties broken count-desc then
    lexicographic) — then GREEDY LONGEST-MATCH-FIRST encoding of every
    distinct word: longest start piece, then longest ## piece repeatedly.
    The other tokenizer family next to BPE (bpe_merges/bpe_encode):
    merge-rule-driven there, vocabulary-matching here. The oracle replays
    the greedy loop as a recursive CTE with a LATERAL longest-match
    aggregate per step, so the hash pins the match order, the ## marking
    and the tie rules. Scale shape: counting is one token scan; the
    vocabulary is bounded (≤68 pieces, a driver-side closure like the BPE
    merge table); encoding runs over DISTINCT words (vocabulary-scale,
    mapInPandas) and never re-tokenizes the corpus."""
    d = _t(spark, sf_dir, "documents")
    words = (d.select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.col("w") != ""))
    wc = (words.groupBy("w")
          .agg(F.count(F.lit(1)).cast("long").alias("c"))).persist()
    topw = [r["w"] for r in
            wc.orderBy(F.desc("c"), F.asc("w")).limit(10).collect()]

    def _grams(side_expr, lens, limit):
        g = None
        for ln in lens:
            e = (wc.filter(F.length("w") > ln)
                 .select(side_expr(ln).alias("piece"), "c"))
            g = e if g is None else g.unionByName(e)
        return [r["piece"] for r in
                (g.groupBy("piece").agg(F.sum("c").alias("sc"))
                 .orderBy(F.desc("sc"), F.asc("piece"))
                 .limit(limit).collect())]

    prefs = _grams(lambda ln: F.expr(f"substring(w, 1, {ln})"),
                   (2, 3, 4), 12)
    sufs = _grams(lambda ln: F.expr(
        f"substring(w, length(w) - {ln} + 1, {ln})"), (2, 3, 4), 20)
    chars = [r["piece"] for r in
             (wc.select(F.explode(F.expr(
                 "transform(sequence(1, length(w)),"
                 " i -> substring(w, i, 1))")).alias("piece"))
              .distinct().collect())]
    vstart = set(topw) | set(prefs) | set(chars)
    vcont = set(sufs) | set(chars)
    max_start = max((len(p) for p in vstart), default=1)
    max_cont = max((len(p) for p in vcont), default=1)

    def encode(batches):
        for pdf in batches:
            out = []
            for w, c in zip(pdf["w"], pdf["c"]):
                pos, toks = 0, []
                while pos < len(w):
                    vocab = vstart if pos == 0 else vcont
                    mx = max_start if pos == 0 else max_cont
                    for ln in range(min(mx, len(w) - pos), 0, -1):
                        if w[pos:pos + ln] in vocab:
                            toks.append(("" if pos == 0 else "##")
                                        + w[pos:pos + ln])
                            pos += ln
                            break
                    else:
                        raise AssertionError("chars cover everything")
                out.append((w, int(c), " ".join(toks), len(toks)))
            import pandas as pd
            yield pd.DataFrame(out, columns=["word", "n_occurrences",
                                             "pieces", "n_pieces"])

    return wc.mapInPandas(
        encode, schema="word string, n_occurrences long, pieces string,"
                       " n_pieces int")


_DISTDIST_SQL = f"""
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {{lex}}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 330
), bd AS MATERIALIZED (
  SELECT DISTINCT node, nbr FROM (
    SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e) u
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
bfs(root, node, d) AS (
  SELECT node, node, 0 FROM nodes
  UNION
  SELECT f.root, bd.nbr, f.d + 1
  FROM bfs f JOIN bd ON bd.node = f.node
  WHERE f.d < 12
), dist AS (
  SELECT root, node, min(d) AS d FROM bfs
  WHERE root < node GROUP BY 1, 2
), h AS (
  SELECT d, CAST(count(*) AS HUGEINT) AS n FROM dist GROUP BY 1
), hc AS (
  SELECT d, n, sum(n) OVER (ORDER BY d) AS c,
         sum(n) OVER () AS tt,
         sum(n) OVER (ORDER BY d) - n AS cp
  FROM h
), ed AS (
  SELECT CAST((d - 1) * 1000000
              + (9 * tt - 10 * cp) * 1000000
                // (10 * (c - cp)) AS BIGINT) AS eff_diameter_e6
  FROM hc WHERE 10 * c >= 9 * tt ORDER BY d LIMIT 1
)
SELECT CAST(hc.d AS INTEGER) AS dist, CAST(hc.n AS BIGINT) AS n_pairs,
       CAST(hc.c AS BIGINT) AS cum_pairs, ed.eff_diameter_e6
FROM hc, ed
"""


@register("kg_distance_distribution",
          _DISTDIST_SQL.format(lex=kg_docs.lexicon_values_sql()))
def kg_distance_distribution(spark, sf_dir):
    """Geodesic distance distribution of the sparsified co-occurrence
    graph plus the ANF-style 90% EFFECTIVE DIAMETER (Palmer et al. 2002,
    the 'how many hops until the graph closes' number behind every
    small-world claim): unordered reachable pairs histogrammed by BFS
    distance, cumulative counts, and the exact linearly-interpolated
    90th percentile as one integer cross-multiplication. Engine: the
    real all-pairs frontier BFS (graph_algos._bfs_all_pairs, one
    equi-join + anti-join per hop); oracle: a depth-bounded recursive
    closure with min-per-pair (walk lengths collapse to geodesics).
    Same vocabulary-projection posture as every all-pairs analytic —
    at corpus scale the histogram comes from ANF sketches, same
    output shape."""
    from .operators.graph_algos import distance_distribution
    edges = _cooc_edges(spark, sf_dir, 330)
    return distance_distribution(
        edges.select(F.col("term_a").alias("subj"),
                     F.col("term_b").alias("obj")))


def _sqlite_fixture_sql(n: int = 18, seed: int = 42) -> str:
    """Oracle for the hand-rolled SQLite file walk: row counts, integer
    sums, text digests and CREATE-sql digests are re-derived from the pure
    (db_id, j, r, seed) spec formulas — a varint slip, a serial-type
    mixup, a missed interior-page descent or a wrong cell-pointer origin
    flips the hash. Page numbers are deliberately NOT compared (engine-
    version artifacts, not content)."""
    import hashlib as _h
    from knowledge_extraction_pipeline_spark.sources.sqlitefile import (
        sqlite_table_spec,
    )
    rows = []
    for i in range(n):
        for name, sql, trs in sqlite_table_spec(i, seed):
            tmd5 = _h.md5("|".join(c1 for _, c1 in trs).encode()) \
                .hexdigest()
            smd5 = _h.md5(sql.encode()).hexdigest()
            rows.append(f"({i}, '{name}', {len(trs)},"
                        f" {sum(c0 for c0, _ in trs)}, '{tmd5}', '{smd5}')")
    return (f"SELECT CAST(db_id AS BIGINT) AS db_id, table_name,"
            f" CAST(n_rows AS BIGINT) AS n_rows,"
            f" CAST(sum_c0 AS BIGINT) AS sum_c0, text_md5, sql_md5"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(db_id, table_name, n_rows, sum_c0, text_md5, sql_md5)")


@register("multimodal_sqlite_tables", _sqlite_fixture_sql())
def multimodal_sqlite_tables(spark, sf_dir):
    """SQLite database-image manifest via the HAND-ROLLED file-format walk
    (sources/sqlitefile.parse_sqlite_tables): 100-byte header, table
    b-tree interior/leaf page descent with cell pointer arrays, big-endian
    varints, and the record serial-type decode (1/2/3/4/6/8-byte
    twos-complement ints, 8/9 zero/one, TEXT 13+2n) — never sqlite3 for
    reading. sqlite_master is parsed as a b-tree like any other table,
    then each discovered root page is walked for row counts, exact
    integer-column sums and rowid-ordered text digests; every 5th image
    holds a page-spilling table so the interior-page path is genuinely
    exercised. Databases are written by the REAL SQLite engine
    (stdlib serialize()), so the parser faces independently-produced
    bytes. This is the app-export/telemetry-dump ingestion surface: one
    mapInPandas over the binary column, no driver involvement."""
    from .sources.sqlitefile import (
        sqlite_table_manifest,
        synthetic_sqlite_dbs,
    )
    out = sqlite_table_manifest(synthetic_sqlite_dbs(spark, 18))
    return out.select("db_id", "table_name",
                      F.col("n_rows").cast("long").alias("n_rows"),
                      F.col("sum_c0").cast("long").alias("sum_c0"),
                      "text_md5", "sql_md5")


def _kmv_diff_sql(table: str, key_col: str, group_col: str,
                  k: int = 64) -> str:
    """DuckDB mirror of sketches.kmv_difference: identical hash prefixes,
    identical θ selection (k-th smallest, sentinel above any hex when the
    group is exhaustively sketched), identical string-compare membership
    and one integer cnt·2⁶⁴ // θ estimate."""
    g16 = "g" * 16
    space = "18446744073709551616"
    return f"""
WITH keys AS (
  SELECT DISTINCT {group_col} AS grp, CAST({key_col} AS VARCHAR) AS ks
  FROM {table}
), hashed AS (
  SELECT DISTINCT grp, substr(md5(ks), 1, 16) AS h FROM keys
), top AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
    FROM hashed) q WHERE rn <= {k}
), sizes AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n FROM keys GROUP BY 1
), syn AS (
  SELECT t.grp, s.n, list_sort(list(t.h)) AS hs,
         CASE WHEN s.n < {k} THEN '{g16}'
              ELSE list_sort(list(t.h))[{k}] END AS th
  FROM top t JOIN sizes s USING (grp) GROUP BY t.grp, s.n
), inter AS (
  SELECT a.grp AS ga, b.grp AS gb, CAST(count(*) AS BIGINT) AS n_inter
  FROM keys a JOIN keys b ON a.ks = b.ks AND a.grp < b.grp
  GROUP BY 1, 2
), pairs AS (
  SELECT a.grp AS ga, b.grp AS gb, a.hs AS ha, b.hs AS hb,
         a.n AS n_a, b.n AS n_b, least(a.th, b.th) AS th
  FROM syn a JOIN syn b ON a.grp < b.grp
), cnts AS (
  SELECT ga, gb, n_a, n_b, th,
         CAST(len(list_filter(ha,
              h -> h < th AND NOT list_contains(hb, h))) AS HUGEINT) AS cab,
         CAST(len(list_filter(hb,
              h -> h < th AND NOT list_contains(ha, h))) AS HUGEINT) AS cba
  FROM pairs
)
SELECT c.ga AS type_a, c.gb AS type_b, c.n_a, c.n_b,
       CAST(c.n_a - coalesce(i.n_inter, 0) AS BIGINT) AS diff_ab_exact,
       CAST(CASE WHEN c.th = '{g16}' THEN c.cab
                 ELSE c.cab * CAST({space} AS HUGEINT)
                      // CAST(CAST(concat('0x', c.th) AS UBIGINT)
                              AS HUGEINT) END AS BIGINT) AS diff_ab_kmv,
       CAST(c.n_b - coalesce(i.n_inter, 0) AS BIGINT) AS diff_ba_exact,
       CAST(CASE WHEN c.th = '{g16}' THEN c.cba
                 ELSE c.cba * CAST({space} AS HUGEINT)
                      // CAST(CAST(concat('0x', c.th) AS UBIGINT)
                              AS HUGEINT) END AS BIGINT) AS diff_ba_kmv
FROM cnts c LEFT JOIN inter i ON i.ga = c.ga AND i.gb = c.gb
"""


@register("sketch_theta_diff_events",
          _kmv_diff_sql("events", "user_id", "event_type"))
def sketch_theta_diff_events(spark, sf_dir):
    """Directed audience set-DIFFERENCE between event types via the
    theta-sketch A∖B operation over KMV synopses
    (operators/sketches.kmv_difference): with θ = min of the two k-th
    smallest hashes, membership below θ is exact, so |A∖B| ≈
    |{h ∈ S_A : h < θ, h ∉ S_B}|·2⁶⁴/θ — one integer division, no float.
    Completes the sketch set algebra next to sketch_jaccard_events
    (∩ ratio) and sketch_hll_union_events (∪): the 'users who click but
    never purchase' estimator at k rows per group instead of a full
    per-pair shuffle; exact differences ride along as the error
    report."""
    from .operators.sketches import kmv_difference
    return kmv_difference(_t(spark, sf_dir, "events"), "user_id",
                          "event_type")


_LCS_W = 48   # tokens per side

_LCS_SQL = f"""
WITH RECURSIVE ta AS (
  SELECT i, w FROM (
    SELECT unnest(string_split(text, ' ')[1:{_LCS_W}]) AS w,
           unnest(range(1, least(len(string_split(text, ' ')),
                                 {_LCS_W}) + 1)) AS i
    FROM documents WHERE doc_id = 0) q WHERE w <> ''
), tb AS (
  SELECT i AS j, w FROM (
    SELECT unnest(string_split(text, ' ')[1:{_LCS_W}]) AS w,
           unnest(range(1, least(len(string_split(text, ' ')),
                                 {_LCS_W}) + 1)) AS i
    FROM documents WHERE doc_id = 1) q WHERE w <> ''
), s AS (
  SELECT (SELECT list(w ORDER BY i) FROM ta) AS la,
         (SELECT list(w ORDER BY j) FROM tb) AS lb,
         (SELECT count(*) FROM ta) AS nn,
         (SELECT count(*) FROM tb) AS mm
), dp AS (
  SELECT 0 AS k, [CAST(0 AS BIGINT)] AS cur, CAST([] AS BIGINT[]) AS prev
  FROM s
  UNION ALL
  SELECT q.k2,
         list_transform(q.tmp, t ->
           CASE WHEN t.i = 0 OR t.j = 0 THEN CAST(0 AS BIGINT)
                ELSE greatest(t.u, t.f, t.g + t.eq) END),
         q.oc
  FROM (
    SELECT d.k + 1 AS k2, d.cur AS oc,
      list_transform(
        range(0, least(s.nn, d.k + 1) - greatest(0, d.k + 1 - s.mm) + 1),
        p -> struct_pack(
          i := greatest(0, d.k + 1 - s.mm) + p,
          j := d.k + 1 - (greatest(0, d.k + 1 - s.mm) + p),
          eq := CASE WHEN greatest(0, d.k + 1 - s.mm) + p >= 1
                          AND d.k + 1
                              - (greatest(0, d.k + 1 - s.mm) + p) >= 1
                          AND s.la[greatest(0, d.k + 1 - s.mm) + p]
                              = s.lb[d.k + 1
                                     - (greatest(0, d.k + 1 - s.mm) + p)]
                     THEN 1 ELSE 0 END,
          u := coalesce(CASE WHEN greatest(0, d.k + 1 - s.mm) + p - 1
                                  - greatest(0, d.k - s.mm) + 1 >= 1
                             THEN d.cur[greatest(0, d.k + 1 - s.mm) + p - 1
                                        - greatest(0, d.k - s.mm) + 1]
                             END, CAST(-1 AS BIGINT)),
          f := coalesce(CASE WHEN greatest(0, d.k + 1 - s.mm) + p
                                  - greatest(0, d.k - s.mm) + 1 >= 1
                             THEN d.cur[greatest(0, d.k + 1 - s.mm) + p
                                        - greatest(0, d.k - s.mm) + 1]
                             END, CAST(-1 AS BIGINT)),
          g := coalesce(CASE WHEN greatest(0, d.k + 1 - s.mm) + p - 1
                                  - greatest(0, d.k - 1 - s.mm) + 1 >= 1
                             THEN d.prev[greatest(0, d.k + 1 - s.mm) + p - 1
                                         - greatest(0, d.k - 1 - s.mm) + 1]
                             END, CAST(-1 AS BIGINT)))) AS tmp
    FROM dp d, s
    WHERE d.k < s.nn + s.mm
  ) q
), dpk AS MATERIALIZED (
  SELECT k, cur FROM dp
), cells AS MATERIALIZED (
  SELECT k, greatest(0, k - (SELECT mm FROM s)) + p - 1 AS i,
         k - (greatest(0, k - (SELECT mm FROM s)) + p - 1) AS j, f
  FROM (
    SELECT k, unnest(cur) AS f,
           unnest(range(1, len(cur) + 1)) AS p
    FROM dpk) q
), bt AS (
  SELECT 0 AS step, s.nn AS i, s.mm AS j, CAST('end' AS VARCHAR) AS op,
         CAST(NULL AS VARCHAR) AS tok
  FROM s
  UNION ALL
  SELECT b.step + 1,
         CASE WHEN mv.op IN ('keep', 'del') THEN b.i - 1 ELSE b.i END,
         CASE WHEN mv.op IN ('keep', 'ins') THEN b.j - 1 ELSE b.j END,
         mv.op, mv.tok
  FROM bt b
  CROSS JOIN s
  LEFT JOIN cells cu ON cu.i = b.i - 1 AND cu.j = b.j
  LEFT JOIN cells cl ON cl.i = b.i AND cl.j = b.j - 1
  CROSS JOIN LATERAL (
    SELECT CASE
             WHEN b.i > 0 AND b.j > 0 AND s.la[b.i] = s.lb[b.j]
               THEN 'keep'
             WHEN b.i > 0 AND (b.j = 0
                               OR coalesce(cu.f, 0) >= coalesce(cl.f, 0))
               THEN 'del'
             ELSE 'ins' END AS op,
           CASE
             WHEN b.i > 0 AND b.j > 0 AND s.la[b.i] = s.lb[b.j]
               THEN s.la[b.i]
             WHEN b.i > 0 AND (b.j = 0
                               OR coalesce(cu.f, 0) >= coalesce(cl.f, 0))
               THEN s.la[b.i]
             ELSE s.lb[b.j] END AS tok) mv
  WHERE b.i > 0 OR b.j > 0
), lcs AS (
  SELECT CAST(count(*) AS BIGINT) AS lcs_len FROM bt WHERE op = 'keep'
)
SELECT CAST((SELECT max(step) FROM bt) - b.step + 1 AS INTEGER) AS step,
       b.op, b.tok,
       CAST(b.i + CASE WHEN b.op IN ('keep', 'del') THEN 1 ELSE 0 END
            AS INTEGER) AS i,
       CAST(b.j + CASE WHEN b.op IN ('keep', 'ins') THEN 1 ELSE 0 END
            AS INTEGER) AS j,
       l.lcs_len,
       CAST(l.lcs_len * 2000000 // (s.nn + s.mm) AS BIGINT) AS sim_e6
FROM bt b, lcs l, s WHERE b.op <> 'end'
"""


@register("dedup_lcs_diff", _LCS_SQL)
def dedup_lcs_diff(spark, sf_dir):
    """Token-level LCS diff between documents 0 and 1 (first {_LCS_W}
    tokens each): the full backtracked edit script (keep / del / ins per
    step, walking from the ends of both token streams), the LCS length
    and the 2·LCS/(n+m) similarity — the explain-the-near-duplicate
    primitive next to dedup_substring_spans (which finds shared spans but
    not the minimal edit). The oracle runs the DP as the same
    ANTI-DIAGONAL WAVEFRONT (one recursive step per diagonal, equality
    bonus on the diagonal) and derives backtrack directions
    FROM THE VALUES — both predecessor cells sit in the one previous-
    diagonal row, so the standard prefer-keep-then-del tiebreak needs no
    stored direction bits. The engine collects the two bounded token
    prefixes (Viterbi discipline) and replays the identical DP. i/j are
    positions BEFORE each emitted operation, so the script replays
    right-to-left."""
    d = _t(spark, sf_dir, "documents")
    rows = {r["doc_id"]: r["text"]
            for r in d.filter(F.col("doc_id") < 2)
            .select("doc_id", "text").collect()}
    a = [w for w in rows[0].split(" ")[:_LCS_W] if w != ""]
    b = [w for w in rows[1].split(" ")[:_LCS_W] if w != ""]
    n, m = len(a), len(b)
    f = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            eq = 1 if a[i - 1] == b[j - 1] else 0
            f[i][j] = max(f[i - 1][j], f[i][j - 1], f[i - 1][j - 1] + eq)
    script = []
    i, j = n, m
    while i > 0 or j > 0:
        if i > 0 and j > 0 and a[i - 1] == b[j - 1]:
            script.append(("keep", a[i - 1], i, j))
            i, j = i - 1, j - 1
        elif i > 0 and (j == 0 or f[i - 1][j] >= f[i][j - 1]):
            script.append(("del", a[i - 1], i, j))
            i -= 1
        else:
            script.append(("ins", b[j - 1], i, j))
            j -= 1
    lcs_len = sum(1 for op, *_ in script if op == "keep")
    sim = lcs_len * 2000000 // (n + m)
    total = len(script)
    out = [(total - st, op, tok, pi, pj, lcs_len, sim)
           for st, (op, tok, pi, pj) in enumerate(script)]
    return spark.createDataFrame(
        out, "step int, op string, tok string, i int, j int,"
             " lcs_len long, sim_e6 long")


_SA_CHARS = 240   # bounded prefix of document 0

_SA_SQL = f"""
WITH s AS (
  SELECT substring(text, 1, {_SA_CHARS}) AS t
  FROM documents WHERE doc_id = 0
), subs AS (
  SELECT substring(t, CAST(a.i AS INTEGER), CAST(b.l AS INTEGER)) AS ss
  FROM s, generate_series(1, 240) AS a(i),
       generate_series(1, 240) AS b(l)
  WHERE a.i + b.l - 1 <= length(t)
), cnts AS (
  SELECT ss, count(*) AS c FROM subs GROUP BY 1
), lrs AS (
  SELECT ss, length(ss) AS l FROM cnts WHERE c >= 2
  ORDER BY length(ss) DESC, ss LIMIT 1
)
SELECT CAST(length(s.t) AS INTEGER) AS n_chars,
       CAST((SELECT count(*) FROM cnts) AS BIGINT)
           AS n_distinct_substrings,
       CAST(lrs.l AS INTEGER) AS lrs_len, lrs.ss AS lrs
FROM s, lrs
"""


@register("text_distinct_substrings", _SA_SQL)
def text_distinct_substrings(spark, sf_dir):
    """Distinct-substring census of a bounded document prefix via a REAL
    SUFFIX AUTOMATON (Blumer et al. 1985): number of distinct substrings
    = Σ_states len(v) − len(link(v)), and the longest repeated substring
    from endpos sizes (clone-aware counts propagated in len order,
    first-occurrence positions for extraction; ties break to the
    lexicographically smallest, matching the oracle's total order). The
    substring-structure primitive under dedup_substring_spans' rolling
    hashes — exact, not sampled. The engine builds the automaton in
    linear time over the collected bounded prefix (Viterbi discipline);
    the oracle brute-forces all O(n²) substrings — feasible at the gate
    because n is pinned at {_SA_CHARS}, which is exactly why the
    automaton is the 100-TB path."""
    d = _t(spark, sf_dir, "documents")
    t = (d.filter(F.col("doc_id") == 0)
         .select(F.substring("text", 1, _SA_CHARS).alias("t"))
         .collect()[0]["t"])
    # suffix automaton construction
    sa_len = [0]
    sa_link = [-1]
    sa_next: list[dict] = [{}]
    sa_clone = [False]
    sa_fp = [0]           # end position (1-based) of first occurrence
    last = 0
    for pos, ch in enumerate(t, start=1):
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-1)
        sa_next.append({})
        sa_clone.append(False)
        sa_fp.append(pos)
        p = last
        while p != -1 and ch not in sa_next[p]:
            sa_next[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = sa_next[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                sa_next.append(dict(sa_next[q]))
                sa_clone.append(True)
                sa_fp.append(sa_fp[q])
                while p != -1 and sa_next[p].get(ch) == q:
                    sa_next[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    n_states = len(sa_len)
    n_distinct = sum(sa_len[v] - sa_len[sa_link[v]]
                     for v in range(1, n_states))
    cnt = [0 if sa_clone[v] else 1 for v in range(n_states)]
    for v in sorted(range(1, n_states), key=lambda v: -sa_len[v]):
        cnt[sa_link[v]] += cnt[v]
    best = None
    max_l = max((sa_len[v] for v in range(1, n_states) if cnt[v] >= 2),
                default=0)
    for v in range(1, n_states):
        if cnt[v] >= 2 and sa_len[v] == max_l:
            sub = t[sa_fp[v] - max_l:sa_fp[v]]
            if best is None or sub < best:
                best = sub
    return spark.createDataFrame(
        [(len(t), n_distinct, max_l, best)],
        "n_chars int, n_distinct_substrings long, lrs_len int, lrs string")


_MINCUT_SQL_TPL = """
WITH m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 330
), vs AS (
  SELECT DISTINCT v FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e) u
), st AS (SELECT min(v) AS s, max(v) AS t FROM vs),
mid AS (
  SELECT v, row_number() OVER (ORDER BY v) - 1 AS idx
  FROM vs, st WHERE v <> st.s AND v <> st.t
), kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM mid),
cuts AS (
  SELECT g.mask,
         sum(CASE WHEN (CASE WHEN e.a = st.s THEN 1
                             WHEN e.a = st.t THEN 0
                             ELSE (g.mask >> ma.idx) & 1 END)
                  <> (CASE WHEN e.b = st.s THEN 1
                           WHEN e.b = st.t THEN 0
                           ELSE (g.mask >> mb.idx) & 1 END)
             THEN 1 ELSE 0 END) AS cut
  FROM generate_series(0, 16383) AS g(mask), kk, st, e
  LEFT JOIN mid ma ON ma.v = e.a
  LEFT JOIN mid mb ON mb.v = e.b
  WHERE g.mask < (CAST(1 AS BIGINT) << kk.k)
  GROUP BY 1
), best AS (
  SELECT mask, cut FROM cuts ORDER BY cut, mask LIMIT 1
), side AS (
  SELECT string_agg(x, ',' ORDER BY x) AS s_side,
         CAST(count(*) AS INTEGER) AS n_s_side
  FROM (
    SELECT st.s AS x FROM st
    UNION ALL
    SELECT mid.v FROM mid, best WHERE (best.mask >> mid.idx) & 1 = 1) q
)
SELECT st.s, st.t, CAST(best.cut AS BIGINT) AS cut_value,
       side.n_s_side, side.s_side
FROM st, best, side
"""


@register("kg_min_cut_docs",
          _MINCUT_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_min_cut_docs(spark, sf_dir):
    """Minimum s-t cut / edge connectivity on the sparsified
    co-occurrence graph (s = lexicographically first vertex, t = last):
    max-flow by EDMONDS-KARP with unit capacities, and the s-side of the
    CANONICAL minimum cut — the residual-reachable set, which by
    submodularity is the unique inclusion-minimal minimizer, hence
    exactly the numerically smallest subset mask the oracle's brute
    2^(V−2) enumeration picks (strict subset ⇒ smaller integer). The
    robustness bottleneck number next to kg_attack_robustness's
    node-removal curve and kg_bridges' single-edge version. Engine:
    Edmonds-Karp on the collected vocabulary projection (the _scc_driver
    vocabulary-bounded precedent; the data-sized work is the one
    co-occurrence aggregate); oracle: every cut evaluated, min (cut,
    mask)."""
    edges = [(r["term_a"], r["term_b"])
             for r in _cooc_edges(spark, sf_dir, 330)
             .select("term_a", "term_b").collect()]
    verts = sorted({v for ab in edges for v in ab})
    s, t = verts[0], verts[-1]
    cap: dict = {}
    adj: dict = {v: set() for v in verts}
    for a, b in edges:
        cap[(a, b)] = cap.get((a, b), 0) + 1
        cap[(b, a)] = cap.get((b, a), 0) + 1
        adj[a].add(b)
        adj[b].add(a)
    flow = 0
    while True:
        parent = {s: None}
        queue = [s]
        while queue and t not in parent:
            v = queue.pop(0)
            for w in sorted(adj[v]):
                if w not in parent and cap.get((v, w), 0) > 0:
                    parent[w] = v
                    queue.append(w)
        if t not in parent:
            break
        path = []
        v = t
        while parent[v] is not None:
            path.append((parent[v], v))
            v = parent[v]
        aug = min(cap[(u, w)] for u, w in path)
        for u, w in path:
            cap[(u, w)] -= aug
            cap[(w, u)] = cap.get((w, u), 0) + aug
        flow += aug
    reach = {s}
    queue = [s]
    while queue:
        v = queue.pop(0)
        for w in sorted(adj[v]):
            if w not in reach and cap.get((v, w), 0) > 0:
                reach.add(w)
                queue.append(w)
    side = sorted(reach)
    return spark.createDataFrame(
        [(s, t, flow, len(side), ",".join(side))],
        "s string, t string, cut_value long, n_s_side int, s_side string")


_COV_K = 8   # greedy selection budget

_COV_SQL = f"""
WITH RECURSIVE ds AS MATERIALIZED (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           range(1, len(list_filter(string_split(text, ' '),
                                    w -> w <> ''))),
           i -> list_filter(string_split(text, ' '), w -> w <> '')[i]
                || ' '
                || list_filter(string_split(text, ' '),
                               w -> w <> '')[i + 1]))) AS ws
  FROM documents
), st AS (
  SELECT 0 AS step, CAST(NULL AS BIGINT) AS doc_id,
         CAST(0 AS BIGINT) AS gain, CAST([] AS VARCHAR[]) AS covered
  UNION ALL
  SELECT s.step + 1,
         arg_max(d.doc_id,
           CAST(len(list_filter(d.ws,
                w -> NOT list_contains(s.covered, w))) AS BIGINT)
             * 1000000000 - d.doc_id),
         max(CAST(len(list_filter(d.ws,
                w -> NOT list_contains(s.covered, w))) AS BIGINT)),
         list_sort(list_distinct(list_concat(s.covered,
           arg_max(d.ws,
             CAST(len(list_filter(d.ws,
                  w -> NOT list_contains(s.covered, w))) AS BIGINT)
               * 1000000000 - d.doc_id))))
  FROM st s, ds d
  WHERE s.step < {_COV_K}
  GROUP BY s.step, s.covered
  HAVING max(len(list_filter(d.ws,
                 w -> NOT list_contains(s.covered, w)))) > 0
)
SELECT CAST(step AS INTEGER) AS step, doc_id, CAST(gain AS BIGINT) AS gain,
       CAST(len(covered) AS BIGINT) AS covered_total
FROM st WHERE step >= 1
"""


@register("data_greedy_coverage", _COV_SQL)
def data_greedy_coverage(spark, sf_dir):
    """Greedy submodular maximum-coverage selection (Nemhauser et al.
    1978, the (1−1/e) guarantee): pick up to {_COV_K} documents, each
    step the one adding the most not-yet-covered distinct words (ties to
    the smallest doc_id), stopping early when coverage saturates — the
    coreset/data-selection primitive behind 'cover the bigram space with
    the fewest documents' curation. The oracle replays the greedy loop
    as a recursion with a LATERAL argmax; the engine runs each round's
    marginal-gain scan DISTRIBUTED (array_except against the
    vocabulary-bounded covered set, one orderBy-limit argmax per round —
    the greedy step is inherently sequential, the BPE-merge discipline).
    Output: the selection order with marginal gains and the coverage
    curve."""
    d = _t(spark, sf_dir, "documents")
    ds = d.select("doc_id", F.expr(
        "CASE WHEN size(filter(split(text, ' '), w -> w != '')) < 2"
        " THEN CAST(array() AS array<string>)"
        " ELSE sort_array(array_distinct(transform("
        "   sequence(1, size(filter(split(text, ' '), w -> w != '')) - 1),"
        "   i -> concat(element_at(filter(split(text, ' '),"
        "                                 w -> w != ''), i), ' ',"
        "               element_at(filter(split(text, ' '),"
        "                                 w -> w != ''), i + 1))))) END")
        .alias("ws")).persist()
    covered: list = []
    out = []
    for step in range(1, _COV_K + 1):
        lit_cov = F.array(*[F.lit(w) for w in covered]) if covered \
            else F.array().cast("array<string>")
        pick = (ds.select(
            "doc_id",
            F.size(F.array_except("ws", lit_cov)).cast("long")
            .alias("gain"),
            F.array_except("ws", lit_cov).alias("nw"))
            .orderBy(F.desc("gain"), F.asc("doc_id")).limit(1)
            .collect()[0])
        if int(pick["gain"]) <= 0:
            break
        covered = sorted(set(covered) | set(pick["nw"]))
        out.append((step, int(pick["doc_id"]), int(pick["gain"]),
                    len(covered)))
    return spark.createDataFrame(
        out, "step int, doc_id long, gain long, covered_total long")


_MOLLOY_SQL_TPL = """
WITH m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 330
), deg AS (
  SELECT v, CAST(count(*) AS HUGEINT) AS k FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e) u GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(k) / 2 AS BIGINT) AS n_edges,
       CAST(sum(k) * 1000000 // count(*) AS BIGINT) AS mean_deg_e6,
       CAST(sum(k * k) * 1000000 // sum(k) AS BIGINT) AS kappa_e6,
       CAST(CASE WHEN sum(k * k) > 2 * sum(k) THEN 1 ELSE 0 END
            AS INTEGER) AS supercritical
FROM deg
"""


@register("kg_molloy_reed",
          _MOLLOY_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_molloy_reed(spark, sf_dir):
    """Molloy-Reed percolation criterion on the sparsified co-occurrence
    graph: κ = ⟨k²⟩/⟨k⟩ — a giant component exists in the
    configuration-model sense iff κ > 2 — the one-number robustness
    predictor that explains kg_attack_robustness's empirical curve
    (scale-free κ ≫ 2 ⇒ robust to random failure, fragile to targeted
    removal). Exact integer degree moments, two floored e6 ratios, one
    integer cross-multiplied verdict. One vocabulary-bounded degree
    aggregate after the co-occurrence count."""
    edges = _cooc_edges(spark, sf_dir, 330)
    deg = (edges.select(F.col("term_a").alias("v"))
           .unionByName(edges.select(F.col("term_b").alias("v")))
           .groupBy("v")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("k")))
    return deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("CAST(sum(k) / 2 AS BIGINT)").alias("n_edges"),
        F.expr("CAST(sum(k) * 1000000 div count(*) AS BIGINT)")
        .alias("mean_deg_e6"),
        F.expr("CAST(sum(k * k) * 1000000 div sum(k) AS BIGINT)")
        .alias("kappa_e6"),
        F.expr("CAST(CASE WHEN sum(k * k) > 2 * sum(k) THEN 1 ELSE 0 END"
               " AS INT)").alias("supercritical"))


_CDC_W, _CDC_B, _CDC_M, _CDC_MASK = 8, 31, 1048576, 64


def _cdc_hash_terms(text_expr: str, pos: str) -> str:
    """Σ_j ascii(substr(text, pos−j, 1))·Bʲ — identical expansion in both
    engines (ascii() returns the codepoint in Spark and DuckDB)."""
    return " + ".join(
        f"CAST(ascii(substr({text_expr},"
        f" CAST({pos} AS INTEGER) - {j}, 1)) AS BIGINT)"
        f" * {_CDC_B ** j}"
        for j in range(_CDC_W))


_CDC_SQL = f"""
WITH pos AS (
  SELECT d.doc_id, d.text, g.i,
         ({_cdc_hash_terms('d.text', 'g.i')}) % {_CDC_M} AS h
  FROM documents d, generate_series({_CDC_W}, 2000) AS g(i)
  WHERE g.i <= length(d.text)
), cuts AS (
  SELECT doc_id, text, i AS cut FROM pos WHERE h % {_CDC_MASK} = 0
  UNION
  SELECT doc_id, text, length(text) FROM documents
), spans AS (
  SELECT doc_id,
         coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0)
           + 1 AS s,
         cut AS e, text
  FROM cuts
), chunks AS (
  SELECT doc_id, md5(substr(text, CAST(s AS INTEGER),
                            CAST(e - s + 1 AS INTEGER))) AS cmd5,
         e - s + 1 AS clen
  FROM spans WHERE e >= s
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(count(DISTINCT cmd5) AS BIGINT) AS n_distinct
  FROM chunks
)
SELECT c.cmd5 AS chunk_md5, CAST(max(c.clen) AS BIGINT) AS chunk_len,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       tot.n_chunks, tot.n_distinct,
       CAST((tot.n_chunks - tot.n_distinct) * 1000000 // tot.n_chunks
            AS BIGINT) AS dup_ratio_e6
FROM chunks c, tot
GROUP BY c.cmd5, tot.n_chunks, tot.n_distinct
HAVING count(*) >= 2
ORDER BY count(*) DESC, c.cmd5 LIMIT 20
"""


@register("dedup_cdc_chunks", _CDC_SQL)
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup (the rsync/LBFS/FastCDC family):
    a {_CDC_W}-byte polynomial rolling hash (base {_CDC_B}, mod 2²⁰)
    slides over every document; positions where h ≡ 0 (mod {_CDC_MASK})
    are cut points (expected {_CDC_MASK}-char chunks), the document tail
    always closes a chunk. Because boundaries depend on CONTENT, a
    shared passage chunks identically regardless of its byte offset —
    the property that lets a 100 TB store dedupe shifted copies, which
    fixed-width shingles (dedup_ngram_jaccard) structurally can't.
    Output: the top-20 cross-document duplicated chunks plus corpus
    totals and the dedupable ratio. Fully distributed in BOTH engines —
    position explode, window lag per doc, one chunk-hash aggregate; the
    hash is the identical integer term expansion, no float anywhere."""
    d = _t(spark, sf_dir, "documents")
    pos = (d.select("doc_id", "text",
                    F.explode(F.expr(
                        f"sequence({_CDC_W},"
                        f" greatest(length(text), {_CDC_W}))"))
                    .alias("i"))
           .filter(F.col("i") <= F.length("text"))
           .select("doc_id", "text", "i",
                   F.expr(f"({_cdc_hash_terms('text', 'i')})"
                          f" % {_CDC_M}").alias("h")))
    cuts = (pos.filter(F.col("h") % _CDC_MASK == 0)
            .select("doc_id", "text", F.col("i").alias("cut"))
            .unionByName(d.select("doc_id", "text",
                                  F.length("text").cast("long")
                                  .alias("cut")))
            .distinct())
    w = Window.partitionBy("doc_id").orderBy("cut")
    spans = cuts.select(
        "doc_id", "text",
        (F.coalesce(F.lag("cut").over(w), F.lit(0)) + 1).alias("s"),
        F.col("cut").alias("e"))
    chunks = (spans.filter(F.col("e") >= F.col("s"))
              .select("doc_id",
                      F.md5(F.expr("substr(text, CAST(s AS INT),"
                                   " CAST(e - s + 1 AS INT))"))
                      .alias("cmd5"),
                      (F.col("e") - F.col("s") + 1).alias("clen")))
    tot = chunks.agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                     F.countDistinct("cmd5").cast("long")
                     .alias("n_distinct"))
    return (chunks.groupBy("cmd5")
            .agg(F.max("clen").cast("long").alias("chunk_len"),
                 F.count(F.lit(1)).cast("long").alias("n_occurrences"))
            .filter(F.col("n_occurrences") >= 2)
            .crossJoin(F.broadcast(tot))
            .orderBy(F.desc("n_occurrences"), F.asc("cmd5")).limit(20)
            .select(F.col("cmd5").alias("chunk_md5"), "chunk_len",
                    "n_occurrences", "n_chunks", "n_distinct",
                    F.expr("CAST((n_chunks - n_distinct) * 1000000"
                           " div n_chunks AS BIGINT)")
                    .alias("dup_ratio_e6")))


def _pnm_ascii_fixture_sql(n: int = 27, seed: int = 42) -> str:
    """Oracle for the ASCII netpbm walk: expected channel means recompute
    from the pure (x, y, id) pixel formulas — a comment-skip slip, a
    P1 polarity flip (1 = BLACK) or a missed maxval rescale (v·255//15)
    flips the hash."""
    rows = []
    for i in range(n):
        w = 9 + (i * 5 + seed) % 11
        h = 7 + (i * 3 + seed) % 9
        kind = 1 + i % 3
        maxval = 15 if i % 2 == 0 else 255
        rs = gs = bs = 0
        for y in range(h):
            for x in range(w):
                if kind == 1:
                    v = (1 - (x + y + i) % 2) * 255
                    rs += v; gs += v; bs += v
                elif kind == 2:
                    v = ((x * 5 + y * 9 + i * 3) % (maxval + 1)) \
                        * 255 // maxval
                    rs += v; gs += v; bs += v
                else:
                    rs += ((x * 2 + y * 13 + i) % (maxval + 1)) \
                        * 255 // maxval
                    gs += ((x * 11 + y * 3 + i * 5) % (maxval + 1)) \
                        * 255 // maxval
                    bs += ((x + y * 7 + i * 9) % (maxval + 1)) \
                        * 255 // maxval
        npx = w * h
        rows.append(f"({i}, {w}, {h}, {rs / npx!r}, {gs / npx!r},"
                    f" {bs / npx!r})")
    return (f"SELECT CAST(media_id AS BIGINT) AS media_id,"
            f" CAST(width AS INTEGER) AS width,"
            f" CAST(height AS INTEGER) AS height,"
            f" CAST(r_mean AS DOUBLE) AS r_mean,"
            f" CAST(g_mean AS DOUBLE) AS g_mean,"
            f" CAST(b_mean AS DOUBLE) AS b_mean"
            f" FROM (VALUES {', '.join(rows)})"
            f" t(media_id, width, height, r_mean, g_mean, b_mean)")


@register("multimodal_pnm_ascii_features", _pnm_ascii_fixture_sql())
def multimodal_pnm_ascii_features(spark, sf_dir):
    """ASCII netpbm decode (P1 bitmap / P2 graymap / P3 pixmap) via the
    HAND-ROLLED whitespace tokenizer with spec-correct '#'-comment
    skipping between ANY tokens, P1's inverted polarity (1 = black), and
    exact v·255//maxval rescaling (maxval 15 and 255 fixtures both
    exercised) — the human-editable end of the netpbm family next to the
    binary P6/P7 paths, wired through the same decode_image dispatch and
    mapInPandas feature scan."""
    from .sources.multimodal import (
        extract_image_features_real,
        synthetic_pnm_ascii_media,
    )
    return extract_image_features_real(synthetic_pnm_ascii_media(spark, 27)) \
        .select("media_id", "width", "height",
                "r_mean", "g_mean", "b_mean")


_MATCH_SQL_TPL = """
WITH RECURSIVE m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 330
), er AS (
  SELECT a, b, row_number() OVER (ORDER BY a, b) AS rn FROM e0
), nmax AS (SELECT max(rn) AS n FROM er),
st AS (
  SELECT 0 AS rn, CAST([] AS VARCHAR[]) AS cov,
         0 AS n_matched
  UNION ALL
  SELECT s.rn + 1,
         CASE WHEN list_contains(s.cov, e.a)
                   OR list_contains(s.cov, e.b)
              THEN s.cov
              ELSE list_sort(list_concat(s.cov, [e.a, e.b])) END,
         s.n_matched + CASE WHEN list_contains(s.cov, e.a)
                                 OR list_contains(s.cov, e.b)
                            THEN 0 ELSE 1 END
  FROM st s JOIN er e ON e.rn = s.rn + 1
), fin AS (
  SELECT cov, n_matched FROM st WHERE rn = (SELECT n FROM nmax)
)
SELECT CAST(f.n_matched AS BIGINT) AS matching_size,
       CAST(len(f.cov) AS BIGINT) AS cover_size,
       list_aggregate(f.cov, 'string_agg', ',') AS cover_csv
FROM fin f
"""


@register("kg_vertex_cover_docs",
          _MATCH_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_vertex_cover_docs(spark, sf_dir):
    """Greedy maximal matching in lexicographic edge order over the
    sparsified co-occurrence graph, and the classic 2-approximation
    VERTEX COVER it induces (both matched endpoints) — the
    approximation-algorithm counterpart of kg_mis_docs (its complement
    bound: V − MIS is an exact cover, matching×2 bounds it within 2× of
    OPT). Maximal matching is inherently sequential in the chosen edge
    order, so the engine replays the bounded vocabulary-projected edge
    list driver-side (the _scc_driver precedent) against the oracle's
    rank-join recursion carrying the covered-vertex list."""
    edges = sorted((r["term_a"], r["term_b"])
                   for r in _cooc_edges(spark, sf_dir, 330)
                   .select("term_a", "term_b").collect())
    cov: set = set()
    matched = 0
    for a, b in edges:
        if a not in cov and b not in cov:
            cov.update((a, b))
            matched += 1
    side = sorted(cov)
    return spark.createDataFrame(
        [(matched, len(side), ",".join(side))],
        "matching_size long, cover_size long, cover_csv string")


_LTM_SQL_TPL = """
WITH RECURSIVE m AS (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 330
), adj AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT a AS node, b AS nbr FROM e0
    UNION ALL SELECT b, a FROM e0) u
), deg AS (SELECT node, count(*) AS k FROM adj GROUP BY 1),
seeds AS (
  SELECT list(node ORDER BY node) AS s0 FROM (
    SELECT node FROM deg ORDER BY k DESC, node LIMIT 2) q
), st AS (
  SELECT 0 AS round, (SELECT s0 FROM seeds) AS active
  UNION ALL
  SELECT s.round + 1,
         list_sort(list_distinct(list_concat(s.active, nw.newly)))
  FROM st s, LATERAL (
    SELECT coalesce(list(x.node ORDER BY x.node), CAST([] AS VARCHAR[]))
        AS newly
    FROM (
      SELECT a.node, count(*) AS c
      FROM adj a
      WHERE list_contains(s.active, a.nbr)
        AND NOT list_contains(s.active, a.node)
      GROUP BY a.node
    ) x JOIN deg d2 ON d2.node = x.node
    WHERE 2 * x.c >= d2.k
  ) nw
  WHERE s.round < 20 AND len(nw.newly) > 0
)
SELECT CAST(round AS INTEGER) AS round,
       CAST(len(active) AS BIGINT) AS n_active,
       list_aggregate(active, 'string_agg', ',') AS active_csv
FROM st
"""


@register("kg_ltm_cascade_docs",
          _LTM_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_ltm_cascade_docs(spark, sf_dir):
    """Linear-threshold influence cascade (Kempe-Kleinberg-Tardos 2003,
    the deterministic uniform-½-threshold case) on the co-occurrence
    graph: seed the two highest-degree terms (ties lexicographic), then
    each round every inactive node with ≥ half its neighbors active
    activates, to the fixpoint — the influence-maximization primitive
    next to the bass diffusion FIT and the attack-robustness REMOVALS
    (spread instead of decay). Synchronous rounds are exactly
    expressible distributed: each engine round is one adjacency join +
    threshold aggregate + union (frontier fixpoint, the _reach_closure
    shape); the oracle carries the active list through a recursion with
    a LATERAL threshold aggregate. Output: the activation curve with
    memberships."""
    from .operators.graph_algos import undirected
    edges = _cooc_edges(spark, sf_dir, 330).select(
        F.col("term_a").alias("subj"), F.col("term_b").alias("obj"))
    adj = undirected(edges, "subj", "obj").distinct() \
        .localCheckpoint(eager=True)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("k"))
    seeds = (deg.orderBy(F.desc("k"), F.asc("src")).limit(2)
             .select(F.col("src").alias("v")))
    active = seeds.localCheckpoint(eager=True)
    out = []

    def snap(rnd):
        vs = sorted(r["v"] for r in active.collect())
        out.append((rnd, len(vs), ",".join(vs)))

    snap(0)
    for rnd in range(1, 21):
        cand = (adj.join(active.select(F.col("v").alias("dst")), "dst")
                .groupBy("src").agg(F.count(F.lit(1)).alias("c"))
                .join(active.select(F.col("v").alias("src")), "src",
                      "left_anti")
                .join(deg, "src")
                .filter(2 * F.col("c") >= F.col("k"))
                .select(F.col("src").alias("v")))
        cand = cand.localCheckpoint(eager=True)
        if cand.isEmpty():
            break
        active = active.unionByName(cand).localCheckpoint(eager=True)
        snap(rnd)
    return spark.createDataFrame(
        out, "round int, n_active long, active_csv string")


_DOMSET_SQL_TPL = """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e0 AS (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 330
), nbhd AS MATERIALIZED (
  SELECT node, list_sort(list_distinct(list_append(list(nbr), node)))
      AS cls
  FROM (
    SELECT a AS node, b AS nbr FROM e0
    UNION ALL SELECT b, a FROM e0) u
  GROUP BY node
), st AS (
  SELECT 0 AS step, CAST(NULL AS VARCHAR) AS picked,
         CAST(0 AS BIGINT) AS gain, CAST([] AS VARCHAR[]) AS covered
  UNION ALL
  SELECT s.step + 1,
         arg_min(n.node,
           lpad(CAST(1000000 - len(list_filter(n.cls,
                w -> NOT list_contains(s.covered, w))) AS VARCHAR),
                7, '0') || n.node),
         max(CAST(len(list_filter(n.cls,
                w -> NOT list_contains(s.covered, w))) AS BIGINT)),
         list_sort(list_distinct(list_concat(s.covered,
           arg_min(n.cls,
             lpad(CAST(1000000 - len(list_filter(n.cls,
                  w -> NOT list_contains(s.covered, w))) AS VARCHAR),
                  7, '0') || n.node))))
  FROM st s, nbhd n
  WHERE s.step < 15
  GROUP BY s.step, s.covered
  HAVING max(len(list_filter(n.cls,
                 w -> NOT list_contains(s.covered, w)))) > 0
)
SELECT CAST(step AS INTEGER) AS step, picked,
       CAST(gain AS BIGINT) AS gain,
       CAST(len(covered) AS BIGINT) AS covered_total
FROM st WHERE step >= 1
"""


@register("kg_dominating_set_docs",
          _DOMSET_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_dominating_set_docs(spark, sf_dir):
    """Greedy minimum dominating set (ln-n approximation) on the
    sparsified co-occurrence graph: each step picks the vertex whose
    CLOSED neighborhood covers the most still-undominated vertices — the
    landmark/monitor-placement primitive (where to put probes so every
    concept is one hop away) next to kg_vertex_cover's edge guarantee
    and data_greedy_coverage's set-system form. Ties break to the
    lexicographically-first term via a zero-padded (10⁶ − gain) ∥ term
    string key — a total order, so arg_min is deterministic. Engine: distributed
    marginal-gain rounds over the neighborhood table with one argmax per
    round; oracle: the proven arg_max recursion."""
    from .operators.graph_algos import undirected
    edges = _cooc_edges(spark, sf_dir, 330).select(
        F.col("term_a").alias("subj"), F.col("term_b").alias("obj"))
    und = undirected(edges, "subj", "obj").distinct()
    nbhd = (und.groupBy(F.col("src").alias("node"))
            .agg(F.expr("sort_array(array_distinct("
                        "array_append(collect_list(dst), node)))")
                 .alias("cls")).persist())
    covered: list = []
    out = []
    for step in range(1, 16):
        lit_cov = F.array(*[F.lit(w) for w in covered]) if covered \
            else F.array().cast("array<string>")
        cand = (nbhd.select(
            "node",
            F.size(F.array_except("cls", lit_cov)).cast("long")
            .alias("gain"),
            F.array_except("cls", lit_cov).alias("nw"))
            .orderBy(F.desc("gain"), F.asc("node"))
            .limit(1).collect()[0])
        if int(cand["gain"]) <= 0:
            break
        covered = sorted(set(covered) | set(cand["nw"]))
        out.append((step, cand["node"], int(cand["gain"]), len(covered)))
    return spark.createDataFrame(
        out, "step int, picked string, gain long, covered_total long")


def _huffman_depths(freqs: list) -> list:
    """Huffman code lengths by the merge loop shared between
    text_huffman_lengths and text_canonical_huffman: repeatedly merge
    the two lightest nodes, ties broken by smallest member symbol index
    (unique per node — member sets are disjoint — so the merge order is
    a total order). Returns per-symbol depths in input order."""
    V = len(freqs)
    fs = list(freqs)
    ks = list(range(1, V + 1))
    mss = [[i] for i in range(1, V + 1)]
    depths = [0] * V
    while len(fs) > 1:
        keys = [f * 1000000000 + k for f, k in zip(fs, ks)]
        p1 = keys.index(min(keys))
        keys2 = keys[:]
        keys2[p1] = 1 << 63
        p2 = keys2.index(min(keys2))
        a, b = sorted((p1, p2))
        m1, m2 = mss[a], mss[b]
        for i in m1 + m2:
            depths[i - 1] += 1
        nf, nk, nm = fs[a] + fs[b], min(ks[a], ks[b]), sorted(m1 + m2)
        for p in (b, a):
            del fs[p], ks[p], mss[p]
        fs.append(nf)
        ks.append(nk)
        mss.append(nm)
    return depths


_HUFF_CORE = """
WITH RECURSIVE wc AS (
  SELECT w, CAST(count(*) AS HUGEINT) AS c FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
  WHERE w <> '' GROUP BY 1
), voc AS (
  SELECT w, c, CAST(row_number() OVER (ORDER BY w) AS BIGINT) AS i
  FROM wc
), vv AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM voc) AS nv,
         (SELECT list(c ORDER BY i) FROM voc) AS fr
), st AS (
  SELECT CAST(1 AS BIGINT) AS it,
         vv.fr AS fs,
         list_transform(range(1, vv.nv + 1), i -> i) AS ks,
         list_transform(range(1, vv.nv + 1), i -> [i]) AS mss,
         list_transform(range(1, vv.nv + 1),
                        i -> CAST(0 AS BIGINT)) AS depths,
         vv.nv AS nv
  FROM vv
  UNION ALL
  SELECT s.it + 1,
         list_append(list_transform(
           list_filter(range(1, len(s.fs) + 1),
                       p -> p <> q.p1 AND p <> q.p2),
           p -> s.fs[p]),
           s.fs[q.p1] + s.fs[q.p2]),
         list_append(list_transform(
           list_filter(range(1, len(s.fs) + 1),
                       p -> p <> q.p1 AND p <> q.p2),
           p -> s.ks[p]),
           least(s.ks[q.p1], s.ks[q.p2])),
         list_append(list_transform(
           list_filter(range(1, len(s.fs) + 1),
                       p -> p <> q.p1 AND p <> q.p2),
           p -> s.mss[p]),
           list_sort(list_concat(s.mss[q.p1], s.mss[q.p2]))),
         list_transform(range(1, s.nv + 1),
           i -> s.depths[i]
                + CASE WHEN list_contains(s.mss[q.p1], i)
                            OR list_contains(s.mss[q.p2], i)
                       THEN 1 ELSE 0 END),
         s.nv
  FROM st s, LATERAL (
    SELECT list_position(kl, list_min(kl)) AS p1,
           list_position(kl2, list_min(kl2)) AS p2
    FROM (SELECT list_transform(range(1, len(s.fs) + 1),
                   p -> s.fs[p] * 1000000000 + s.ks[p]) AS kl) a,
    LATERAL (SELECT list_transform(range(1, len(kl) + 1),
                   p -> CASE WHEN p = list_position(kl, list_min(kl))
                             THEN CAST(9223372036854775807 AS HUGEINT)
                             ELSE kl[p] END) AS kl2) b
  ) q
  WHERE len(s.fs) > 1
), fin AS (
  SELECT depths FROM st WHERE it = (SELECT nv FROM vv)
)"""

_HUFF_SQL = _HUFF_CORE + """, mx AS (
  SELECT max(f.depths[v.i]) AS maxlen FROM voc v, fin f
), tot AS (
  SELECT sum(v.c * f.depths[v.i]) AS total_bits,
         sum(CAST(1 AS HUGEINT)
             << CAST(mx.maxlen - f.depths[v.i] AS INTEGER)) AS kr
  FROM voc v, fin f, mx
)
SELECT v.w AS word, CAST(v.c AS BIGINT) AS freq,
       CAST(f.depths[v.i] AS INTEGER) AS code_len,
       CAST(t.total_bits AS BIGINT) AS total_bits,
       CAST(CASE WHEN t.kr = (CAST(1 AS HUGEINT)
                              << CAST(mx.maxlen AS INTEGER))
                 THEN 1 ELSE 0 END AS INTEGER) AS kraft_ok
FROM voc v, fin f, tot t, mx
"""


@register("text_huffman_lengths", _HUFF_SQL)
def text_huffman_lengths(spark, sf_dir):
    """Optimal prefix-code construction: HUFFMAN code lengths over the
    corpus word frequencies (merge the two lightest nodes, ties broken by
    the smallest member symbol index — unique per node since member sets
    are disjoint, so the merge order is a total order), the achievable
    integer-length bound that text_token_entropy lower-bounds. Output:
    per-word code length, the total encoded size, and the exact Kraft
    equality check Σ2^(L−lᵢ) = 2^L (a full binary tree — any slip in the
    merge order breaks it). The oracle replays all V−1 merges through a
    list-state recursion (frequencies / tie-keys / member-sets / depths
    as four parallel lists); the engine builds the same tree driver-side
    over the vocabulary-bounded count table (the BPE-merge discipline)
    after one distributed word count."""
    d = _t(spark, sf_dir, "documents")
    wc = (d.select(F.explode(F.split("text", " ")).alias("w"))
          .filter(F.col("w") != "")
          .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
          .orderBy("w").collect())
    words = [r["w"] for r in wc]
    freqs = [int(r["c"]) for r in wc]
    V = len(words)
    depths = _huffman_depths(freqs)
    total_bits = sum(c * d_ for c, d_ in zip(freqs, depths))
    maxlen = max(depths)
    kr = sum(1 << (maxlen - d_) for d_ in depths)
    kraft_ok = 1 if kr == (1 << maxlen) else 0
    out = [(words[i], freqs[i], depths[i], total_bits, kraft_ok)
           for i in range(V)]
    return spark.createDataFrame(
        out, "word string, freq long, code_len int, total_bits long,"
             " kraft_ok int")


_KCENTER_K = 6

_KCENTER_SQL = f"""
WITH RECURSIVE e AS (
  SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings
), st AS (
  SELECT 1 AS round,
         [(SELECT min(vid) FROM e)] AS centers,
         CAST(NULL AS BIGINT) AS last_rad
  UNION ALL
  SELECT s.round + 1, list_append(s.centers, q.pick), q.rad
  FROM st s, LATERAL (
    SELECT arg_max(t.id, t.dmin * 10000000000 - t.id) AS pick,
           max(t.dmin) AS rad
    FROM (
      SELECT p.vid AS id,
             min(1000000 - CAST(floor(
               list_dot_product(p.v, c.v)
               / (sqrt(list_dot_product(p.v, p.v))
                  * sqrt(list_dot_product(c.v, c.v))) * 1000000)
               AS BIGINT)) AS dmin
      FROM e p JOIN e c ON list_contains(s.centers, c.vid)
      WHERE NOT list_contains(s.centers, p.vid)
      GROUP BY p.vid
    ) t
  ) q
  WHERE s.round < {_KCENTER_K}
)
SELECT CAST(round AS INTEGER) AS round,
       CAST(centers[round] AS BIGINT) AS center_id,
       last_rad AS radius_e6
FROM st
"""


@register("ann_kcenter_gonzalez", _KCENTER_SQL)
def ann_kcenter_gonzalez(spark, sf_dir):
    """Gonzalez farthest-first traversal (1985, the 2-approximation for
    k-center) over the embedding corpus with cosine distance: seed the
    smallest vec_id, then each round add the point FARTHEST from its
    nearest chosen center (ties to the smallest id; distances e6-FLOORED
    once from the identical IEEE cosine both engines compute) — the
    diversity-coreset primitive next to ann_mmr_topk's per-query
    diversity and ann_kmeans' mean-seeking centers (k-center bounds the
    worst case, k-means the average). Reported radius = the covering
    radius just before each center was added, i.e. a shrinking upper
    bound on the optimal k-center cost. Engine: one distributed
    min-distance scan + argmax per round (centers broadcast); oracle:
    the same rounds through a LATERAL aggregate recursion."""
    from .functions.vectors import cosine
    embs = _t(spark, sf_dir, "embeddings")
    v = embs.select(F.col("vec_id").alias("id"),
                    F.col("embedding").cast("array<double>").alias("v")) \
        .persist()
    seed = v.agg(F.min("id")).collect()[0][0]
    centers = [int(seed)]
    out = [(1, centers[0], None)]
    for rnd in range(2, _KCENTER_K + 1):
        cdf = F.broadcast(v.filter(F.col("id").isin(centers))
                          .select(F.col("id").alias("cid"),
                                  F.col("v").alias("cv")))
        pick = (v.filter(~F.col("id").isin(centers))
                .crossJoin(cdf)
                .select("id",
                        (F.lit(1000000)
                         - F.floor(cosine(F.col("v"), F.col("cv"))
                                   * 1000000).cast("long")).alias("d"))
                .groupBy("id").agg(F.min("d").alias("dmin"))
                .orderBy(F.desc("dmin"), F.asc("id")).limit(1)
                .collect()[0])
        centers.append(int(pick["id"]))
        out.append((rnd, int(pick["id"]), int(pick["dmin"])))
    return spark.createDataFrame(
        out, "round int, center_id long, radius_e6 long")


_BIPARTITE_SQL = f"""
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {{lex}}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 330
), bd AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e
), nodes AS MATERIALIZED (SELECT DISTINCT node FROM bd),
rc(a, b) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT rc.a, bd.nbr FROM rc JOIN bd ON bd.node = rc.b
), comp AS (
  SELECT a AS node, min(b) AS component FROM rc GROUP BY 1
), bfs(node, d) AS (
  SELECT node, 0 FROM comp WHERE node = component
  UNION
  SELECT bd.nbr, bfs.d + 1 FROM bfs JOIN bd ON bd.node = bfs.node
  WHERE bfs.d < 16
), dist AS (
  SELECT node, CAST(min(d) AS INTEGER) AS dist FROM bfs GROUP BY 1
), col AS (
  SELECT c.node, c.component, d.dist,
         CAST(d.dist % 2 AS INTEGER) AS color
  FROM comp c JOIN dist d ON d.node = c.node
), odd AS (
  SELECT ca.component AS cmp,
         CAST(sum(CASE WHEN ca.color = cb.color THEN 1 ELSE 0 END)
              AS BIGINT) AS comp_odd_edges
  FROM e JOIN col ca ON ca.node = e.a JOIN col cb ON cb.node = e.b
  GROUP BY 1
)
SELECT col.node AS node, col.component, col.dist, col.color,
       coalesce(o.comp_odd_edges, 0) AS comp_odd_edges,
       coalesce(o.comp_odd_edges, 0) = 0 AS comp_bipartite
FROM col LEFT JOIN odd o ON o.cmp = col.component
""".format(lex=kg_docs.lexicon_values_sql())


@register("kg_bipartite_check", _BIPARTITE_SQL)
def kg_bipartite_check(spark, sf_dir):
    """Bipartiteness test of the sparsified doc co-occurrence graph
    (graph_algos.bipartite_coloring): BFS parity 2-coloring — color =
    shortest hop distance from the component's min-label root, mod 2 —
    with a proper-coloring audit counting same-color edges per
    component. Shortest-hop parity is traversal-order independent, so
    the test is deterministic under any partitioning (a stack-order DFS
    coloring would not be). Components run the REAL large-star /
    small-star operator; distances are synchronous min-plus frontier
    rounds; the oracle re-derives both through min-label and (node,
    depth)-deduped BFS recursions, so the hash pins distances, colors
    AND the per-component odd-edge census."""
    from .operators.graph_algos import bipartite_coloring
    edges = _cooc_edges(spark, sf_dir, 330)
    return bipartite_coloring(edges, src="term_a", dst="term_b")


_SALSA_SQL = """
WITH RECURSIVE pos AS (
  SELECT doc_id, term,
         list_position(string_split(text, ' '), term) AS fp
  FROM documents, {lex}
  WHERE list_position(string_split(text, ' '), term) > 0
),
cnt AS (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.fp < b.fp
  GROUP BY 1, 2
),
de AS MATERIALIZED (
  SELECT c1.src, c1.dst
  FROM cnt c1 JOIN cnt c2 ON c1.src = c2.dst AND c1.dst = c2.src
  WHERE c1.w >= c2.w + 12
),
adeg AS MATERIALIZED (
  SELECT dst AS node, CAST(count(*) AS BIGINT) AS deg FROM de GROUP BY 1
),
apairs AS MATERIALIZED (
  SELECT DISTINCT e1.dst AS a, e2.dst AS b
  FROM de e1 JOIN de e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
abd AS (SELECT a AS node, b AS nbr FROM apairs UNION SELECT b, a FROM apairs),
arc(a, b) AS (
  SELECT node, node FROM adeg
  UNION
  SELECT arc.a, abd.nbr FROM arc JOIN abd ON abd.node = arc.b
),
acomp AS (SELECT a AS node, min(b) AS component FROM arc GROUP BY 1),
asum AS (
  SELECT c.component, sum(d.deg) AS comp_deg_sum,
         CAST(count(*) AS BIGINT) AS n_comp
  FROM adeg d JOIN acomp c ON c.node = d.node GROUP BY 1
),
hdeg AS MATERIALIZED (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM de GROUP BY 1
),
hpairs AS MATERIALIZED (
  SELECT DISTINCT e1.src AS a, e2.src AS b
  FROM de e1 JOIN de e2 ON e1.dst = e2.dst AND e1.src < e2.src
),
hbd AS (SELECT a AS node, b AS nbr FROM hpairs UNION SELECT b, a FROM hpairs),
hrc(a, b) AS (
  SELECT node, node FROM hdeg
  UNION
  SELECT hrc.a, hbd.nbr FROM hrc JOIN hbd ON hbd.node = hrc.b
),
hcomp AS (SELECT a AS node, min(b) AS component FROM hrc GROUP BY 1),
hsum AS (
  SELECT c.component, sum(d.deg) AS comp_deg_sum,
         CAST(count(*) AS BIGINT) AS n_comp
  FROM hdeg d JOIN hcomp c ON c.node = d.node GROUP BY 1
)
SELECT 'authority' AS side, d.node, d.deg, c.component,
       CAST(s.comp_deg_sum AS BIGINT) AS comp_deg_sum, s.n_comp,
       CAST(s.n_comp * d.deg * 1000000000
            // ((SELECT count(*) FROM adeg) * s.comp_deg_sum)
           AS BIGINT) AS score_e9
FROM adeg d JOIN acomp c ON c.node = d.node
JOIN asum s ON s.component = c.component
UNION ALL
SELECT 'hub' AS side, d.node, d.deg, c.component,
       CAST(s.comp_deg_sum AS BIGINT) AS comp_deg_sum, s.n_comp,
       CAST(s.n_comp * d.deg * 1000000000
            // ((SELECT count(*) FROM hdeg) * s.comp_deg_sum)
           AS BIGINT) AS score_e9
FROM hdeg d JOIN hcomp c ON c.node = d.node
JOIN hsum s ON s.component = c.component
""".format(lex=kg_docs.lexicon_values_sql())


@register("kg_salsa_docs", _SALSA_SQL)
def kg_salsa_docs(spark, sf_dir):
    """SALSA link analysis (Lempel-Moran 2000) of the directed
    first-mention-order tournament graph (graph_algos.salsa_scores) —
    the stochastic sibling of HITS whose fixed point has an exact closed
    form: authority weight = (|C|/|A|)·d_in/Σ_C d_in over the CO-CITATION
    components, hub weight symmetrically over bibliographic coupling.
    Because the closed form IS the stationary distribution, no power
    iteration or float tolerance is involved: every score is one
    integer floor division (e9), making SALSA exactly verifiable where
    HITS (hits_scaled) needs scaled fixed-iteration replay. Support
    components run the REAL distributed large-star/small-star operator
    on both sides."""
    from .operators.graph_algos import salsa_scores
    de = _mention_order_edges(spark, sf_dir)
    return salsa_scores(de, src="src", dst="dst")


_SSTEM_SQL = """
WITH w AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), base AS (
  SELECT tok AS root, count(*) AS c FROM w
  WHERE regexp_full_match(tok, '[a-z]+') GROUP BY 1
), t AS (
  SELECT root || sfx AS tok, c
  FROM base, (SELECT unnest(['', 's', 'es', 'ies', 'ss', 'us', 'oes',
                             'ees', 'aes', 'eies', 'aies']) AS sfx)
), s AS (
  SELECT tok, c,
    CASE
      WHEN length(tok) > 3 AND tok LIKE '%ies'
           AND tok NOT LIKE '%eies' AND tok NOT LIKE '%aies'
        THEN substr(tok, 1, length(tok) - 3) || 'y'
      WHEN length(tok) > 3 AND tok LIKE '%es'
           AND tok NOT LIKE '%aes' AND tok NOT LIKE '%ees'
           AND tok NOT LIKE '%oes'
        THEN substr(tok, 1, length(tok) - 1)
      WHEN length(tok) > 3 AND tok LIKE '%s'
           AND tok NOT LIKE '%us' AND tok NOT LIKE '%ss'
        THEN substr(tok, 1, length(tok) - 1)
      ELSE tok END AS stem
  FROM t
)
SELECT stem, CAST(count(*) AS BIGINT) AS n_variants,
       CAST(sum(c) AS BIGINT) AS total_count,
       array_to_string(list(tok ORDER BY tok), ',') AS variants
FROM s GROUP BY stem HAVING count(*) >= 2
"""


@register("text_s_stemmer", _SSTEM_SQL)
def text_s_stemmer(spark, sf_dir):
    """Harman S-stemmer (1991, "How effective is suffixing?") — the
    classic minimal English stemmer: exactly one of three guarded rules
    fires per word (ies→y unless -eies/-aies; -es drops s unless
    -aes/-ees/-oes; -s drops unless -us/-ss; words ≤3 chars untouched).
    The synthetic corpus vocabulary carries no natural inflections, so
    each root is expanded with a pinned 11-suffix morphological probe
    battery ('', s, es, ies, ss, us, oes, ees, aes, eies, aies) that
    exercises EVERY rule and every guard exception; the emitted
    conflation classes (≥2 surface variants, probe forms weighted by
    the root's corpus count) pin which forms the stemmer merges and
    which the guards protect. Stemming is vocabulary-sized map-side
    CASE work, never token-stream-sized; bit-identical across
    engines."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"))
    base = (toks.filter(F.col("tok").rlike("^[a-z]+$"))
            .groupBy(F.col("tok").alias("root"))
            .agg(F.count(F.lit(1)).alias("c")))
    sfx = ["", "s", "es", "ies", "ss", "us", "oes", "ees", "aes",
           "eies", "aies"]
    t = (base.select(F.explode(F.array(*[
        F.concat(F.col("root"), F.lit(x)) for x in sfx])).alias("tok"),
        "c"))
    stem = F.expr("""CASE
      WHEN length(tok) > 3 AND tok LIKE '%ies'
           AND tok NOT LIKE '%eies' AND tok NOT LIKE '%aies'
        THEN concat(substr(tok, 1, length(tok) - 3), 'y')
      WHEN length(tok) > 3 AND tok LIKE '%es'
           AND tok NOT LIKE '%aes' AND tok NOT LIKE '%ees'
           AND tok NOT LIKE '%oes'
        THEN substr(tok, 1, length(tok) - 1)
      WHEN length(tok) > 3 AND tok LIKE '%s'
           AND tok NOT LIKE '%us' AND tok NOT LIKE '%ss'
        THEN substr(tok, 1, length(tok) - 1)
      ELSE tok END""")
    return (t.withColumn("stem", stem)
            .groupBy("stem")
            .agg(F.count(F.lit(1)).cast("long").alias("n_variants"),
                 F.sum("c").cast("long").alias("total_count"),
                 F.array_join(F.array_sort(F.collect_list("tok")), ",")
                 .alias("variants"))
            .filter(F.col("n_variants") >= 2))


_BWT_SQL = """
WITH d AS (
  SELECT regexp_replace(lower(substr(text, 1, 200)), '[^a-z ]', '', 'g')
         || '!' AS s
  FROM documents ORDER BY doc_id LIMIT 1
), idx AS (
  SELECT unnest(range(1, length((SELECT s FROM d)) + 1)) AS i
), rot AS (
  SELECT CAST(i AS INTEGER) AS start_idx,
         substr(d.s, CAST(i AS INTEGER))
           || substr(d.s, 1, CAST(i AS INTEGER) - 1) AS r,
         d.s AS s
  FROM idx, d
), ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY r) AS INTEGER) AS rank,
         start_idx, substr(r, length(s), 1) AS ch
  FROM rot
)
SELECT rank, start_idx, ch,
       coalesce(ch <> lag(ch) OVER (ORDER BY rank), TRUE) AS is_run_start
FROM ranked
"""


@register("text_bwt_runs", _BWT_SQL)
def text_bwt_runs(spark, sf_dir):
    """Burrows-Wheeler transform (1994) of the first document's cleaned
    200-char prefix (sentinel '!' appended, so all rotations are
    distinct and the sort is a strict total order): the full sorted
    rotation table — output rank, rotation start index (the suffix-array
    permutation), last-column character, and run-start flags whose count
    is the BWT run complexity r, the compressibility statistic modern
    text indexes (r-index, bzip2) are built on. The rotation sort is
    pure binary string comparison over an [a-z space!] alphabet,
    collation-proof on both engines; the engine builds rotations
    distributively from spark.range over the broadcast prefix."""
    docs = _t(spark, sf_dir, "documents")
    s = (docs.orderBy("doc_id").limit(1)
         .select((F.concat(F.regexp_replace(
             F.lower(F.substring("text", 1, 200)), "[^a-z ]", ""),
             F.lit("!"))).alias("s")))
    rot = (spark.range(1, 202).select((F.col("id")).cast("int")
                                      .alias("start_idx"))
           .crossJoin(F.broadcast(s))
           .filter(F.col("start_idx") <= F.length("s"))
           .select("start_idx", "s",
                   F.concat(F.expr("substr(s, start_idx)"),
                            F.expr("substr(s, 1, start_idx - 1)"))
                   .alias("r")))
    ranked = rot.select(
        F.row_number().over(Window.orderBy("r")).cast("int").alias("rank"),
        "start_idx", F.expr("substr(r, length(s), 1)").alias("ch"))
    w = Window.orderBy("rank")
    return ranked.select(
        "rank", "start_idx", "ch",
        F.coalesce(F.col("ch") != F.lag("ch").over(w), F.lit(True))
        .alias("is_run_start"))


def _protobuf_fixture_sql(n: int = 40, seed: int = 42) -> str:
    """Oracle for the protobuf wire-format walk: every manifest column is
    re-derived from the pure message_spec formulas — a varint continuation
    slip, a ZigZag sign mixup, a packed-run misparse, a nested-message
    boundary error or a wrong unknown-field skip flips the hash. The one
    exception is payload_bytes, which comes from the writer (the writer
    itself is pinned to spec-known byte encodings by
    tests/test_protobuf.py golden vectors, so writer/reader bugs cannot
    cancel)."""
    import hashlib as _h
    from knowledge_extraction_pipeline_spark.sources.protobuf import (
        build_message,
        message_spec,
    )
    rows = []
    for i in range(n):
        s = message_spec(i, seed)
        tmd5 = _h.md5("|".join(s["tags"]).encode()).hexdigest()
        n_unknown = 2 if s["extra_unk"] else 1
        rows.append(
            f"({i}, {s['rec_id']}, '{s['name']}', {s['score']},"
            f" {s['flags']}, {s['meta_hour']}, '{s['meta_tag']}',"
            f" {len(s['tags'])}, '{tmd5}', {sum(s['vals'])}, {s['big']},"
            f" {n_unknown}, {len(build_message(i, seed))})")
    return (
        "SELECT CAST(msg_id AS BIGINT) AS msg_id,"
        " CAST(rec_id AS BIGINT) AS rec_id, name,"
        " CAST(score AS BIGINT) AS score, CAST(flags AS BIGINT) AS flags,"
        " CAST(meta_hour AS INTEGER) AS meta_hour, meta_tag,"
        " CAST(n_tags AS INTEGER) AS n_tags, tags_md5,"
        " CAST(vals_sum AS BIGINT) AS vals_sum, CAST(big AS BIGINT) AS big,"
        " CAST(n_unknown AS INTEGER) AS n_unknown,"
        " CAST(payload_bytes AS INTEGER) AS payload_bytes"
        f" FROM (VALUES {', '.join(rows)})"
        " t(msg_id, rec_id, name, score, flags, meta_hour, meta_tag,"
        " n_tags, tags_md5, vals_sum, big, n_unknown, payload_bytes)")


@register("multimodal_protobuf_records", _protobuf_fixture_sql())
def multimodal_protobuf_records(spark, sf_dir):
    """Protocol-Buffers wire-format record manifest via the HAND-ROLLED
    tag-driven walk (sources/protobuf.message_manifest): base-128
    varints, key = (field << 3) | wire_type, wire types 0/1/2/5, ZigZag
    sint decode, packed repeated varints, one nested-message level, and
    the spec-MANDATED unknown-field skip (fields 14/15 carry data the
    reader has no schema for — it must hop by wire type and count them).
    Odd messages serialize fields in REVERSE order, so the reader is
    proven order-blind. This is the RPC/log-shipping ingestion surface
    (protobuf-framed telemetry is a dominant training-log container):
    one mapInPandas over the binary column, no driver involvement."""
    from .sources.protobuf import message_manifest, synthetic_messages
    return message_manifest(synthetic_messages(spark, 40))


_AMS_SQL = """
WITH w AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
                                               '\\s+'),
                x -> x != '')) AS tok
  FROM documents
), cnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1
), js AS (SELECT CAST(unnest(range(0, 9)) AS INTEGER) AS j),
x AS (
  SELECT js.j,
         CAST(sum(c * (CASE WHEN substr(md5('ams:' || js.j || ':' || tok),
                                   16, 1)
                            IN ('0','2','4','6','8','a','c','e')
                       THEN 1 ELSE -1 END)) AS BIGINT) AS x_j
  FROM cnt, js GROUP BY 1
), est AS (
  SELECT j, x_j, CAST(x_j * x_j AS BIGINT) AS est_f2 FROM x
), gm AS (
  SELECT j // 3 AS g, CAST(sum(est_f2) // 3 AS BIGINT) AS group_mean
  FROM est GROUP BY 1
), mm AS (
  SELECT CAST(sum(group_mean) - max(group_mean) - min(group_mean)
              AS BIGINT) AS mom
  FROM gm
), f2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2 FROM cnt)
SELECT est.j AS estimator, est.x_j, est.est_f2, gm.group_mean,
       mm.mom AS mom_estimate, f2.f2 AS exact_f2,
       CAST(abs(mm.mom - f2.f2) * 1000000 // f2.f2 AS BIGINT)
           AS rel_err_e6
FROM est JOIN gm ON gm.g = est.j // 3, mm, f2
"""


@register("sketch_ams_f2", _AMS_SQL)
def sketch_ams_f2(spark, sf_dir):
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996, the
    Gödel-prize streaming result): nine ±1-signed linear projections of
    the token count vector (sign = md5 hex-digit parity, identical
    expression on both engines), squared into F2 estimators, combined
    median-of-3-means (the middle value = sum − max − min). F2 = Σc² is
    the self-join size / collision mass a dedup planner needs before
    committing to a shuffle. Every value is exact integer arithmetic —
    the estimator X_j is one map-side combinable sum per sign function,
    so the sketch costs 9 partial aggregates over the token stream and
    never materializes the count vector; rel_err_e6 against the exact
    F2 makes the estimator quality itself part of the pinned result."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x: x != "")).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long")
                                  .alias("c"))
    js = spark.range(0, 9).select(F.col("id").cast("int").alias("j"))
    sign = F.when(
        F.substring(F.md5(F.concat(F.lit("ams:"), F.col("j"),
                                   F.lit(":"), F.col("tok"))), 16, 1)
        .isin("0", "2", "4", "6", "8", "a", "c", "e"), 1).otherwise(-1)
    x = (cnt.crossJoin(F.broadcast(js))
         .groupBy("j").agg(F.sum(F.col("c") * sign).cast("long")
                           .alias("x_j")))
    est = x.select("j", "x_j",
                   (F.col("x_j") * F.col("x_j")).cast("long")
                   .alias("est_f2"))
    gm = (est.groupBy(F.expr("j div 3").alias("g"))
          .agg(F.expr("CAST(sum(est_f2) div 3 AS BIGINT)")
               .alias("group_mean")))
    mm = gm.agg((F.sum("group_mean") - F.max("group_mean")
                 - F.min("group_mean")).cast("long").alias("mom"))
    f2 = cnt.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("f2"))
    return (est.join(gm, F.expr("j div 3") == F.col("g"))
            .crossJoin(F.broadcast(mm)).crossJoin(F.broadcast(f2))
            .select(F.col("j").alias("estimator"), "x_j", "est_f2",
                    "group_mean", F.col("mom").alias("mom_estimate"),
                    F.col("f2").alias("exact_f2"),
                    F.expr("CAST(abs(mom - f2) * 1000000 div f2"
                           " AS BIGINT)").alias("rel_err_e6")))


_EULER_SQL = f"""
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {{lex}}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 330
), bd AS (
  SELECT a AS node, b AS nbr FROM e UNION SELECT b, a FROM e
), nodes AS (SELECT DISTINCT node FROM bd),
rc(a, b) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT rc.a, bd.nbr FROM rc JOIN bd ON bd.node = rc.b
), comp AS (
  SELECT a AS node, min(b) AS component FROM rc GROUP BY 1
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM bd GROUP BY 1
), ec AS (
  SELECT c.component, CAST(count(*) AS BIGINT) AS n_edges
  FROM e JOIN comp c ON c.node = e.a GROUP BY 1
)
SELECT c.component,
       CAST(count(*) AS BIGINT) AS n_nodes,
       coalesce(max(ec.n_edges), 0) AS n_edges,
       CAST(sum(CASE WHEN d.degree % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_odd_degree,
       sum(CASE WHEN d.degree % 2 = 1 THEN 1 ELSE 0 END) = 0
           AS has_euler_circuit,
       sum(CASE WHEN d.degree % 2 = 1 THEN 1 ELSE 0 END) IN (0, 2)
           AS has_euler_trail
FROM comp c
JOIN deg d ON d.node = c.node
LEFT JOIN ec ON ec.component = c.component
GROUP BY c.component
""".format(lex=kg_docs.lexicon_values_sql())


@register("kg_eulerian_docs", _EULER_SQL)
def kg_eulerian_docs(spark, sf_dir):
    """Eulerian trail/circuit census (Euler 1736, the Königsberg bridge
    theorem — the first theorem of graph theory) per connected component
    of the sparsified doc co-occurrence graph: a component has an Euler
    circuit iff every degree is even, a trail iff 0 or 2 vertices are
    odd. Degree parity comes from one distinct-neighbor aggregate;
    components from the REAL large-star/small-star operator; the oracle
    re-derives both with a min-label closure recursion. The odd-degree
    census is the exact quantity route-inspection / edge-covering
    pipelines (deduplicating crawl frontiers, wiring test coverage)
    plan with."""
    from .operators.canonicalize import connected_components
    edges = (_cooc_edges(spark, sf_dir, 330)
             .select(F.col("term_a").alias("src"),
                     F.col("term_b").alias("dst")))
    bd = (edges.unionByName(edges.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
          .distinct())
    comp = (connected_components(edges, driver_threshold=0)
            .select(F.col("norm_term").alias("node"),
                    F.col("canon").alias("component")))
    deg = (bd.groupBy(F.col("src").alias("node"))
           .agg(F.count(F.lit(1)).cast("long").alias("degree")))
    ec = (edges.join(comp.withColumnRenamed("node", "src"), "src")
          .groupBy("component")
          .agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
    odd = F.sum(F.when(F.col("degree") % 2 == 1, 1).otherwise(0))
    return (comp.join(deg, "node").join(ec, "component", "left")
            .groupBy("component")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                 F.coalesce(F.max("n_edges"), F.lit(0)).cast("long")
                 .alias("n_edges"),
                 odd.cast("long").alias("n_odd_degree"),
                 (odd == 0).alias("has_euler_circuit"),
                 odd.isin(0, 2).alias("has_euler_trail")))


_KDTREE_SQL = """
WITH e AS (
  SELECT vec_id, embedding[1]::DOUBLE AS d0, embedding[2]::DOUBLE AS d1,
         embedding[3]::DOUBLE AS d2
  FROM embeddings
), l0 AS (
  SELECT *, CASE WHEN (d0, vec_id) <= (
    SELECT (d0, vec_id) FROM (
      SELECT d0, vec_id,
             row_number() OVER (ORDER BY d0, vec_id) AS rn,
             count(*) OVER () AS n
      FROM e) q WHERE rn = (n + 1) // 2)
    THEN 0 ELSE 1 END AS b0
  FROM e
), l1 AS (
  SELECT l0.*, CASE WHEN (d1, vec_id) <= m.mv THEN 0 ELSE 1 END AS b1
  FROM l0 JOIN (
    SELECT b0, (d1, vec_id) AS mv FROM (
      SELECT b0, d1, vec_id,
             row_number() OVER (PARTITION BY b0 ORDER BY d1, vec_id)
                 AS rn,
             count(*) OVER (PARTITION BY b0) AS n
      FROM l0) q WHERE rn = (n + 1) // 2) m ON m.b0 = l0.b0
), l2 AS (
  SELECT l1.*, CASE WHEN (d2, vec_id) <= m.mv THEN 0 ELSE 1 END AS b2
  FROM l1 JOIN (
    SELECT b0, b1, (d2, vec_id) AS mv FROM (
      SELECT b0, b1, d2, vec_id,
             row_number() OVER (PARTITION BY b0, b1 ORDER BY d2, vec_id)
                 AS rn,
             count(*) OVER (PARTITION BY b0, b1) AS n
      FROM l1) q WHERE rn = (n + 1) // 2) m
    ON m.b0 = l1.b0 AND m.b1 = l1.b1
)
SELECT vec_id, CAST(4 * b0 + 2 * b1 + b2 AS INTEGER) AS leaf_id,
       CAST(count(*) OVER (PARTITION BY b0, b1, b2) AS BIGINT)
           AS leaf_count
FROM l2
"""


@register("ann_kdtree_partition", _KDTREE_SQL)
def ann_kdtree_partition(spark, sf_dir):
    """KD-tree partitioning (Bentley 1975) of the embedding corpus:
    three levels of exact median splits cycling dims 0→1→2, assigning
    every vector a 3-bit leaf id — the spatial-partitioner primitive
    behind balanced ANN sharding and spatial joins (each leaf holds
    n/8 ± 1 vectors BY CONSTRUCTION, unlike IVF's data-dependent list
    sizes). Medians are rank-exact under the (coordinate, vec_id) total
    order — element ⌈n/2⌉ per cell — so the partition is deterministic
    and identical across engines with zero float arithmetic beyond raw
    coordinate comparisons. Each level is one window rank per cell (a
    narrow shuffle on the cell key), the plan shape a 10⁹-vector
    partitioner needs."""
    emb = _t(spark, sf_dir, "embeddings")
    df = emb.select("vec_id",
                    F.col("embedding")[0].cast("double").alias("d0"),
                    F.col("embedding")[1].cast("double").alias("d1"),
                    F.col("embedding")[2].cast("double").alias("d2"))
    for lvl, dim in enumerate(["d0", "d1", "d2"]):
        part = [f"b{j}" for j in range(lvl)]
        w = (Window.partitionBy(*part).orderBy(dim, "vec_id")
             if part else Window.orderBy(dim, "vec_id"))
        wc = Window.partitionBy(*part) if part else \
            Window.partitionBy(F.lit(1))
        ranked = df.withColumn("_rn", F.row_number().over(w)) \
                   .withColumn("_n", F.count(F.lit(1)).over(wc))
        med = (ranked.filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
               .select(*part, F.col(dim).alias("_mv"),
                       F.col("vec_id").alias("_mid")))
        df = (df.join(F.broadcast(med), part) if part
              else df.crossJoin(F.broadcast(med)))
        below = (F.col(dim) < F.col("_mv")) | \
                ((F.col(dim) == F.col("_mv"))
                 & (F.col("vec_id") <= F.col("_mid")))
        df = df.withColumn(f"b{lvl}",
                           F.when(below, 0).otherwise(1)) \
               .drop("_mv", "_mid")
    wleaf = Window.partitionBy("b0", "b1", "b2")
    return df.select(
        "vec_id",
        (4 * F.col("b0") + 2 * F.col("b1") + F.col("b2")).cast("int")
        .alias("leaf_id"),
        F.count(F.lit(1)).over(wleaf).cast("long").alias("leaf_count"))


_VOTERANK_SQL = """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), nodes AS (
  SELECT DISTINCT term FROM (SELECT a AS term FROM e
                             UNION SELECT b FROM e)
), ty AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS INTEGER) AS ti
  FROM nodes
), adjp AS (
  SELECT x.ti AS i, y.ti AS j,
         CAST(CASE WHEN EXISTS (
           SELECT 1 FROM e WHERE (e.a = x.term AND e.b = y.term)
                              OR (e.a = y.term AND e.b = x.term))
         THEN 1 ELSE 0 END AS BIGINT) AS v
  FROM ty x, ty y
), consts AS (
  SELECT (SELECT list(l ORDER BY i) FROM (
            SELECT i, list(v ORDER BY j) AS l FROM adjp GROUP BY i) q)
      AS nn,
         (SELECT CAST(count(*) AS INTEGER) FROM ty) AS k,
         CAST((SELECT count(*) FROM ty) * 1000000
              // greatest(2 * (SELECT count(*) FROM e), 1) AS BIGINT)
             AS delta
), st AS (
  SELECT 0 AS it, 0 AS phase, 0 AS sel, CAST(0 AS BIGINT) AS selscore,
         list_transform(range(1, c.k + 1),
                        i -> CAST(1000000 AS BIGINT)) AS va,
         list_transform(range(1, c.k + 1), i -> 0) AS mask,
         c.nn AS nn, c.k AS k, c.delta AS delta
  FROM consts c
  UNION ALL
  SELECT s.it + 1, 1 - s.phase,
         CASE WHEN s.phase = 0 THEN CAST(list_position(
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN s.mask[i] = 1 THEN CAST(-1 AS BIGINT)
             ELSE list_sum(list_transform(range(1, s.k + 1),
                           j -> s.nn[i][j] * s.va[j])) END),
           list_max(
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN s.mask[i] = 1 THEN CAST(-1 AS BIGINT)
             ELSE list_sum(list_transform(range(1, s.k + 1),
                           j -> s.nn[i][j] * s.va[j])) END)))
           AS INTEGER)
         ELSE s.sel END AS sel2,
         CASE WHEN s.phase = 0 THEN list_max(
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN s.mask[i] = 1 THEN CAST(-1 AS BIGINT)
             ELSE list_sum(list_transform(range(1, s.k + 1),
                           j -> s.nn[i][j] * s.va[j])) END))
         ELSE s.selscore END AS selscore2,
         CASE WHEN s.phase = 0 THEN s.va ELSE
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN i = s.sel THEN CAST(0 AS BIGINT)
             WHEN s.nn[s.sel][i] = 1
               THEN greatest(s.va[i] - s.delta, CAST(0 AS BIGINT))
             ELSE s.va[i] END) END AS va2,
         CASE WHEN s.phase = 0 THEN s.mask ELSE
           list_transform(range(1, s.k + 1),
                          i -> CASE WHEN i = s.sel THEN 1
                               ELSE s.mask[i] END) END AS mask2,
         s.nn, s.k, s.delta
  FROM st s
  WHERE s.it < 2 * {rounds}
)
SELECT CAST((s.it + 1) // 2 AS INTEGER) AS round, ty.term AS node,
       s.selscore AS score
FROM st s JOIN ty ON ty.ti = s.sel
WHERE s.phase = 1
"""


@register("kg_voterank_docs",
          _VOTERANK_SQL.format(lex=kg_docs.lexicon_values_sql(),
                               min_cooc=kg_docs.MIN_COOCCURRENCES,
                               rounds=5))
def kg_voterank_docs(spark, sf_dir):
    """VoteRank influential-spreader election (Zhang, Lü et al. 2016)
    over the doc co-occurrence graph (graph_algos.voterank): five
    rounds of vote-and-suppress — each elected node zeroes its own
    voting ability and weakens its neighbors' by 1/⟨k⟩, so the chosen
    set SPREADS over the graph instead of clustering in one dense
    neighborhood the way degree/PageRank top-k does. All ability
    arithmetic is e6 integer (δ = |V|·1e6 // 2|E|), making the elected
    sequence deterministic; the oracle replays it through a two-phase
    elect/suppress list recursion with the adjacency matrix carried in
    the recursion state."""
    from .operators.graph_algos import voterank
    return voterank(_cooc_edges(spark, sf_dir), rounds=5,
                    src="term_a", dst="term_b")


_DEGEN_SQL = """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), nodes AS (
  SELECT DISTINCT term FROM (SELECT a AS term FROM e
                             UNION SELECT b FROM e)
), ty AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS INTEGER) AS ti
  FROM nodes
), adjp AS (
  SELECT x.ti AS i, y.ti AS j,
         CAST(CASE WHEN EXISTS (
           SELECT 1 FROM e WHERE (e.a = x.term AND e.b = y.term)
                              OR (e.a = y.term AND e.b = x.term))
         THEN 1 ELSE 0 END AS BIGINT) AS v
  FROM ty x, ty y
), consts AS (
  SELECT (SELECT list(l ORDER BY i) FROM (
            SELECT i, list(v ORDER BY j) AS l FROM adjp GROUP BY i) q)
      AS nn,
         (SELECT CAST(count(*) AS INTEGER) FROM ty) AS k
), st AS (
  SELECT 0 AS it, 0 AS phase, 0 AS sel, CAST(0 AS BIGINT) AS seldeg,
         CAST(0 AS BIGINT) AS cm,
         list_transform(range(1, c.k + 1), i -> 0) AS mask,
         c.nn AS nn, c.k AS k
  FROM consts c
  UNION ALL
  SELECT s.it + 1, 1 - s.phase,
         CASE WHEN s.phase = 0 THEN CAST(list_position(
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN s.mask[i] = 1 THEN CAST(s.k + 1 AS BIGINT)
             ELSE list_sum(list_transform(range(1, s.k + 1),
                  j -> s.nn[i][j] * (1 - s.mask[j]))) END),
           list_min(
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN s.mask[i] = 1 THEN CAST(s.k + 1 AS BIGINT)
             ELSE list_sum(list_transform(range(1, s.k + 1),
                  j -> s.nn[i][j] * (1 - s.mask[j]))) END)))
           AS INTEGER)
         ELSE s.sel END AS sel2,
         CASE WHEN s.phase = 0 THEN list_min(
           list_transform(range(1, s.k + 1), i -> CASE
             WHEN s.mask[i] = 1 THEN CAST(s.k + 1 AS BIGINT)
             ELSE list_sum(list_transform(range(1, s.k + 1),
                  j -> s.nn[i][j] * (1 - s.mask[j]))) END))
         ELSE s.seldeg END AS seldeg2,
         CASE WHEN s.phase = 0 THEN s.cm
              ELSE greatest(s.cm, s.seldeg) END AS cm2,
         CASE WHEN s.phase = 0 THEN s.mask ELSE
           list_transform(range(1, s.k + 1),
                          i -> CASE WHEN i = s.sel THEN 1
                               ELSE s.mask[i] END) END AS mask2,
         s.nn, s.k
  FROM st s
  WHERE s.it < 2 * s.k
)
SELECT CAST((s.it + 1) // 2 AS INTEGER) AS peel_order, ty.term AS node,
       s.seldeg AS degree_at_removal,
       greatest(s.cm, s.seldeg) AS core_number
FROM st s JOIN ty ON ty.ti = s.sel
WHERE s.phase = 1
"""


@register("kg_degeneracy_docs",
          _DEGEN_SQL.format(lex=kg_docs.lexicon_values_sql(),
                            min_cooc=kg_docs.MIN_COOCCURRENCES))
def kg_degeneracy_docs(spark, sf_dir):
    """Degeneracy ordering + core numbers (Matula & Beck 1983, the
    smallest-last ordering behind linear-time coloring and the k-core
    decomposition): repeatedly remove the minimum-residual-degree node
    (ties to the lexicographically smallest term); each node's core
    number is the running maximum of removal degrees at its turn, and
    the overall maximum is the graph's degeneracy — the quantity that
    bounds greedy-coloring (χ ≤ d+1) and drives clique-enumeration
    orderings. Complements the fixed-k kg_kcore_docs with the FULL
    per-node decomposition. The peel is inherently sequential, so the
    engine replays it over the bounded vocabulary projection (the
    Viterbi discipline) while the oracle replays the identical
    elect/remove two-phase list recursion."""
    from .operators.kg_docs import MIN_COOCCURRENCES
    edges = _cooc_edges(spark, sf_dir, MIN_COOCCURRENCES)
    rows = edges.select("term_a", "term_b").collect()
    adj: dict[str, set] = {}
    for r in rows:
        adj.setdefault(r["term_a"], set()).add(r["term_b"])
        adj.setdefault(r["term_b"], set()).add(r["term_a"])
    nodes = sorted(adj)
    removed: set[str] = set()
    cm = 0
    out = []
    for order in range(1, len(nodes) + 1):
        live = [(len(adj[v] - removed), v) for v in nodes
                if v not in removed]
        deg, sel = min(live)
        cm = max(cm, deg)
        out.append((order, sel, deg, cm))
        removed.add(sel)
    return spark.createDataFrame(
        out, "peel_order int, node string, degree_at_removal long,"
             " core_number long")


_AC_SQL = f"""
WITH pats AS (SELECT term FROM (VALUES {{pats}}) p(term)),
docs AS (SELECT doc_id, lower(text) AS t FROM documents),
pos AS (
  SELECT d.doc_id, p.term,
         CAST(unnest(range(1, greatest(length(d.t)
                                       - length(p.term) + 2, 1)))
              AS INTEGER) AS i
  FROM docs d CROSS JOIN pats p
), hits AS (
  SELECT pos.doc_id, pos.term
  FROM pos JOIN docs d ON d.doc_id = pos.doc_id
  WHERE substr(d.t, pos.i, length(pos.term)) = pos.term
)
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM hits GROUP BY term
"""


def _ac_pats_sql() -> str:
    return ", ".join(f"('{t}')" for t, _ in kg_docs.DOC_LEXICON)


@register("text_aho_corasick", _AC_SQL.format(pats=_ac_pats_sql()))
def text_aho_corasick(spark, sf_dir):
    """Multi-pattern matching via a REAL Aho-Corasick automaton (1975):
    goto trie over the 15 lexicon terms, BFS-built failure links,
    output sets merged through failures — one single pass over every
    document counts ALL (overlapping) occurrences of ALL patterns
    simultaneously, the dictionary-scan primitive behind PII screening
    and keyword surfacing at corpus scale (15 probes per char collapse
    to 1 transition). The automaton is built once on the driver
    (pattern-sized work), broadcast, and run in mapInPandas; the
    oracle brute-forces every (position, pattern) substring comparison,
    so a wrong failure link or a dropped overlap flips the hash."""
    import pandas as _pd

    pats = [t for t, _ in kg_docs.DOC_LEXICON]
    # build goto / fail / output (classic BFS construction)
    goto: list[dict[str, int]] = [{}]
    out: list[set[str]] = [set()]
    for p in pats:
        s = 0
        for ch in p:
            if ch not in goto[s]:
                goto.append({})
                out.append(set())
                goto[s][ch] = len(goto) - 1
            s = goto[s][ch]
        out[s].add(p)
    fail = [0] * len(goto)
    from collections import deque
    dq = deque(goto[0].values())
    while dq:
        s = dq.popleft()
        for ch, t2 in goto[s].items():
            dq.append(t2)
            f = fail[s]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[t2] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != t2 \
                else 0
            out[t2] |= out[fail[t2]]
    auto = (goto, fail, [sorted(o) for o in out])

    def scan(batches):
        g, fl, ou = auto
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = 0
                counts: dict[str, int] = {}
                for ch in str(text).lower():
                    while s and ch not in g[s]:
                        s = fl[s]
                    s = g[s].get(ch, 0)
                    for p in ou[s]:
                        counts[p] = counts.get(p, 0) + 1
                for p, c in counts.items():
                    rows.append({"doc_id": int(doc_id), "term": p,
                                 "n": c})
            yield _pd.DataFrame(rows, columns=["doc_id", "term", "n"])

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    hits = docs.mapInPandas(scan, "doc_id long, term string, n long")
    return (hits.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n").cast("long").alias("n_occurrences")))


_KNEE_SQL = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings
  ORDER BY vec_id LIMIT 1
), d AS (
  SELECT e.vec_id,
         1.0 - list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS dist
  FROM embeddings e, q
  WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
), topk AS (
  SELECT vec_id, dist,
         CAST(row_number() OVER (ORDER BY dist, vec_id) AS BIGINT) AS i
  FROM d ORDER BY dist, vec_id LIMIT 50
), ends AS (
  SELECT (SELECT dist FROM topk WHERE i = 1) AS d1,
         (SELECT dist FROM topk WHERE i = 50) AS dk
), dev AS (
  SELECT t.i, t.vec_id, t.dist,
         (t.dist - e.d1) * 49 - (e.dk - e.d1) * (t.i - 1) AS num
  FROM topk t, ends e
), mx AS (
  SELECT min(i) AS knee_i FROM dev
  WHERE num = (SELECT min(num) FROM dev)
)
SELECT d.i AS rank, d.vec_id, round(d.dist, 6) AS dist,
       CAST(m.knee_i AS BIGINT) AS knee_rank,
       d.i <= m.knee_i AS keep
FROM dev d, mx m
"""


@register("ann_knee_cutoff", _KNEE_SQL)
def ann_knee_cutoff(spark, sf_dir):
    """Kneedle-style knee detection (Satopää et al. 2011) on the sorted
    top-50 cosine-distance curve of the pinned query vector: the knee
    is the point of maximum (signed) deviation BELOW the first-to-last
    chord — computed as the exact cross-multiplied expression
    (dᵢ−d₁)·(k−1) − (d_k−d₁)·(i−1), no slopes, no normalization floats
    beyond the raw IEEE distances both engines share — giving the
    adaptive result-set cutoff an ANN serving layer uses instead of a
    fixed k (earliest-index tiebreak). Emits the whole ranked curve
    with the keep/drop verdict so the hash pins every deviation, not
    just the argmin."""
    emb = _t(spark, sf_dir, "embeddings")
    from .operators.similarity import cosine
    qv = (emb.orderBy("vec_id").limit(1)
          .select(F.col("embedding").alias("qv"),
                  F.col("vec_id").alias("qid")))
    d = (emb.crossJoin(F.broadcast(qv))
         .filter(F.col("vec_id") != F.col("qid"))
         .select("vec_id",
                 (1.0 - cosine(F.col("embedding"), F.col("qv")))
                 .alias("dist")))
    topk = (d.select("vec_id", "dist",
                     F.row_number().over(Window.orderBy("dist",
                                                        "vec_id"))
                     .cast("long").alias("i"))
            .filter(F.col("i") <= 50))
    ends = topk.agg(
        F.first(F.when(F.col("i") == 1, F.col("dist")),
                ignorenulls=True).alias("d1"),
        F.first(F.when(F.col("i") == 50, F.col("dist")),
                ignorenulls=True).alias("dk"))
    dev = (topk.crossJoin(F.broadcast(ends))
           .select("i", "vec_id", "dist",
                   ((F.col("dist") - F.col("d1")) * 49
                    - (F.col("dk") - F.col("d1")) * (F.col("i") - 1))
                   .alias("num")))
    mx = (dev.agg(F.min("num").alias("mn"))
          .crossJoin(dev.select("i", "num"))
          .filter(F.col("num") == F.col("mn"))
          .agg(F.min("i").alias("knee_i")))
    return (dev.crossJoin(F.broadcast(mx))
            .select(F.col("i").alias("rank"), "vec_id",
                    F.round("dist", 6).alias("dist"),
                    F.col("knee_i").cast("long").alias("knee_rank"),
                    (F.col("i") <= F.col("knee_i")).alias("keep")))


_SW_SQL = """
WITH RECURSIVE ds AS (
  SELECT doc_id,
         regexp_replace(lower(substr(text, 1, 120)), '[^a-z ]', '', 'g')
             AS s
  FROM documents ORDER BY doc_id LIMIT 2
), ab AS (
  SELECT (SELECT s FROM ds ORDER BY doc_id LIMIT 1) AS a,
         (SELECT s FROM ds ORDER BY doc_id DESC LIMIT 1) AS b
), dims AS (
  SELECT a, b, CAST(length(a) AS INTEGER) AS m,
         CAST(length(b) AS INTEGER) AS n
  FROM ab
), st AS (
  SELECT 1 AS d,
         list_transform(range(1, dims.m + 1),
                        i -> CAST(0 AS BIGINT)) AS hd,
         list_transform(range(1, dims.m + 1),
                        i -> CAST(0 AS BIGINT)) AS hm1,
         CAST(0 AS BIGINT) AS best, 0 AS best_i, 0 AS best_d,
         CAST(0 AS BIGINT) AS npos, CAST(0 AS BIGINT) AS sumh,
         dims.a AS a, dims.b AS b, dims.m AS m, dims.n AS n
  FROM dims
  UNION ALL
  SELECT s.d + 1,
         list_transform(range(1, s.m + 1), i -> CASE
           WHEN i <= s.m AND s.d + 1 - i >= 1 AND s.d + 1 - i <= s.n
           THEN greatest(CAST(0 AS BIGINT),
             (CASE WHEN i >= 2 THEN s.hm1[i - 1] ELSE 0 END)
               + (CASE WHEN substr(s.a, CAST(i AS INTEGER), 1)
                          = substr(s.b, CAST(s.d + 1 - i AS INTEGER), 1)
                  THEN 2 ELSE -1 END),
             (CASE WHEN i >= 2 THEN s.hd[i - 1] ELSE 0 END) - 2,
             s.hd[i] - 2)
           ELSE CAST(0 AS BIGINT) END) AS hd2,
         s.hd AS hm12,
         greatest(s.best, list_max(
           list_transform(range(1, s.m + 1), i -> CASE
             WHEN i <= s.m AND s.d + 1 - i >= 1 AND s.d + 1 - i <= s.n
             THEN greatest(CAST(0 AS BIGINT),
               (CASE WHEN i >= 2 THEN s.hm1[i - 1] ELSE 0 END)
                 + (CASE WHEN substr(s.a, CAST(i AS INTEGER), 1)
                            = substr(s.b,
                                     CAST(s.d + 1 - i AS INTEGER), 1)
                    THEN 2 ELSE -1 END),
               (CASE WHEN i >= 2 THEN s.hd[i - 1] ELSE 0 END) - 2,
               s.hd[i] - 2)
             ELSE CAST(0 AS BIGINT) END))) AS best2,
         CASE WHEN list_max(
           list_transform(range(1, s.m + 1), i -> CASE
             WHEN i <= s.m AND s.d + 1 - i >= 1 AND s.d + 1 - i <= s.n
             THEN greatest(CAST(0 AS BIGINT),
               (CASE WHEN i >= 2 THEN s.hm1[i - 1] ELSE 0 END)
                 + (CASE WHEN substr(s.a, CAST(i AS INTEGER), 1)
                            = substr(s.b,
                                     CAST(s.d + 1 - i AS INTEGER), 1)
                    THEN 2 ELSE -1 END),
               (CASE WHEN i >= 2 THEN s.hd[i - 1] ELSE 0 END) - 2,
               s.hd[i] - 2)
             ELSE CAST(0 AS BIGINT) END)) > s.best
         THEN CAST(list_position(
           list_transform(range(1, s.m + 1), i -> CASE
             WHEN i <= s.m AND s.d + 1 - i >= 1 AND s.d + 1 - i <= s.n
             THEN greatest(CAST(0 AS BIGINT),
               (CASE WHEN i >= 2 THEN s.hm1[i - 1] ELSE 0 END)
                 + (CASE WHEN substr(s.a, CAST(i AS INTEGER), 1)
                            = substr(s.b,
                                     CAST(s.d + 1 - i AS INTEGER), 1)
                    THEN 2 ELSE -1 END),
               (CASE WHEN i >= 2 THEN s.hd[i - 1] ELSE 0 END) - 2,
               s.hd[i] - 2)
             ELSE CAST(0 AS BIGINT) END),
           list_max(
           list_transform(range(1, s.m + 1), i -> CASE
             WHEN i <= s.m AND s.d + 1 - i >= 1 AND s.d + 1 - i <= s.n
             THEN greatest(CAST(0 AS BIGINT),
               (CASE WHEN i >= 2 THEN s.hm1[i - 1] ELSE 0 END)
                 + (CASE WHEN substr(s.a, CAST(i AS INTEGER), 1)
                            = substr(s.b,
                                     CAST(s.d + 1 - i AS INTEGER), 1)
                    THEN 2 ELSE -1 END),
               (CASE WHEN i >= 2 THEN s.hd[i - 1] ELSE 0 END) - 2,
               s.hd[i] - 2)
             ELSE CAST(0 AS BIGINT) END))) AS INTEGER)
         ELSE s.best_i END AS best_i2,
         CASE WHEN list_max(
           list_transform(range(1, s.m + 1), i -> CASE
             WHEN i <= s.m AND s.d + 1 - i >= 1 AND s.d + 1 - i <= s.n
             THEN greatest(CAST(0 AS BIGINT),
               (CASE WHEN i >= 2 THEN s.hm1[i - 1] ELSE 0 END)
                 + (CASE WHEN substr(s.a, CAST(i AS INTEGER), 1)
                            = substr(s.b,
                                     CAST(s.d + 1 - i AS INTEGER), 1)
                    THEN 2 ELSE -1 END),
               (CASE WHEN i >= 2 THEN s.hd[i - 1] ELSE 0 END) - 2,
               s.hd[i] - 2)
             ELSE CAST(0 AS BIGINT) END)) > s.best
         THEN s.d + 1 ELSE s.best_d END AS best_d2,
         s.npos + list_sum(
           list_transform(range(1, s.m + 1), i -> CASE
             WHEN (CASE
               WHEN i <= s.m AND s.d + 1 - i >= 1 AND s.d + 1 - i <= s.n
               THEN greatest(CAST(0 AS BIGINT),
                 (CASE WHEN i >= 2 THEN s.hm1[i - 1] ELSE 0 END)
                   + (CASE WHEN substr(s.a, CAST(i AS INTEGER), 1)
                              = substr(s.b,
                                       CAST(s.d + 1 - i AS INTEGER), 1)
                      THEN 2 ELSE -1 END),
                 (CASE WHEN i >= 2 THEN s.hd[i - 1] ELSE 0 END) - 2,
                 s.hd[i] - 2)
               ELSE CAST(0 AS BIGINT) END) > 0
             THEN 1 ELSE 0 END)) AS npos2,
         s.sumh + list_sum(
           list_transform(range(1, s.m + 1), i -> CASE
             WHEN i <= s.m AND s.d + 1 - i >= 1 AND s.d + 1 - i <= s.n
             THEN greatest(CAST(0 AS BIGINT),
               (CASE WHEN i >= 2 THEN s.hm1[i - 1] ELSE 0 END)
                 + (CASE WHEN substr(s.a, CAST(i AS INTEGER), 1)
                            = substr(s.b,
                                     CAST(s.d + 1 - i AS INTEGER), 1)
                    THEN 2 ELSE -1 END),
               (CASE WHEN i >= 2 THEN s.hd[i - 1] ELSE 0 END) - 2,
               s.hd[i] - 2)
             ELSE CAST(0 AS BIGINT) END)) AS sumh2,
         s.a, s.b, s.m, s.n
  FROM st s WHERE s.d < s.m + s.n
)
SELECT CAST(m AS INTEGER) AS len_a, CAST(n AS INTEGER) AS len_b,
       best AS best_score, CAST(best_i AS INTEGER) AS end_i,
       CAST(best_d - best_i AS INTEGER) AS end_j,
       npos AS n_positive_cells, sumh AS sum_h
FROM st ORDER BY d DESC LIMIT 1
"""


@register("text_smith_waterman", _SW_SQL)
def text_smith_waterman(spark, sf_dir):
    """Smith-Waterman local alignment (1981) between the cleaned
    120-char prefixes of the two lexicographically-first documents:
    match +2 / mismatch −1 / gap −2, scores floored at 0 — the LOCAL
    complement of the global edit-distance family
    (dedup_edit_distance_docs), finding the best-matching substring
    pair rather than whole-string cost. All-integer DP; the best
    score, its end cell (earliest diagonal then smallest row on ties),
    the count of positive cells and the total alignment mass are
    pinned. Engine: bounded driver DP (Viterbi discipline); oracle:
    the DTW-style anti-diagonal wavefront recursion — two carried
    diagonals, so each recursion step is one list_transform with no
    intra-step dependency (exactly how a genuinely large alignment
    would distribute)."""
    docs = (_t(spark, sf_dir, "documents").orderBy("doc_id").limit(2)
            .select("doc_id", "text").collect())
    import re as _re

    def clean(t):
        return _re.sub(r"[^a-z ]", "", t[:120].lower())

    a = clean(docs[0]["text"])
    b = clean(docs[1]["text"])
    m, n = len(a), len(b)
    npos = 0
    sumh = 0
    rows = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            sub = 2 if a[i - 1] == b[j - 1] else -1
            h = max(0, rows[i - 1][j - 1] + sub, rows[i - 1][j] - 2,
                    rows[i][j - 1] - 2)
            rows[i][j] = h
            if h > 0:
                npos += 1
            sumh += h
    # earliest-diagonal tiebreak (matches the oracle's ascending-d,
    # strictly-greater update with first-max-position within a diagonal)
    best = best_i = best_j = 0
    for d in range(2, m + n + 1):
        diag_best = 0
        diag_i = 0
        for i in range(max(1, d - n), min(m, d - 1) + 1):
            h = rows[i][d - i]
            if h > diag_best:
                diag_best, diag_i = h, i
        if diag_best > best:
            best, best_i, best_j = diag_best, diag_i, d - diag_i
    out = [(m, n, best, best_i, best_j, npos, sumh)]
    return spark.createDataFrame(
        out, "len_a int, len_b int, best_score long, end_i int,"
             " end_j int, n_positive_cells long, sum_h long")


_LOUVAIN_SQL = """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b, CAST(count(*) AS BIGINT) AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), nodes AS (
  SELECT DISTINCT term FROM (SELECT a AS term FROM e
                             UNION SELECT b FROM e)
), ty AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS INTEGER) AS ti
  FROM nodes
), wm AS (
  SELECT x.ti AS i, y.ti AS j,
         CAST(coalesce((SELECT sum(w) FROM e
                        WHERE (e.a = x.term AND e.b = y.term)
                           OR (e.a = y.term AND e.b = x.term)), 0)
              AS BIGINT) AS w
  FROM ty x, ty y
), consts AS (
  SELECT (SELECT list(l ORDER BY i) FROM (
            SELECT i, list(w ORDER BY j) AS l FROM wm GROUP BY i) q)
      AS nn,
         (SELECT list(kd ORDER BY i) FROM (
            SELECT i, sum(w) AS kd FROM wm GROUP BY i) q) AS kd,
         (SELECT CAST(count(*) AS INTEGER) FROM ty) AS k,
         (SELECT CAST(2 * sum(w) AS BIGINT) FROM e) AS m2
), st AS (
  SELECT 0 AS r,
         list_transform(range(1, c.k + 1),
                        i -> CAST(i AS INTEGER)) AS comm,
         c.nn AS nn, c.kd AS kd, c.k AS k, c.m2 AS m2
  FROM consts c
  UNION ALL
  SELECT s.r + 1,
         list_transform(range(1, s.k + 1), i -> CAST(list_position(
           list_transform(range(1, s.k + 1), c -> CASE
             WHEN c <> s.comm[i] AND list_sum(
                    list_transform(range(1, s.k + 1),
                      j -> CASE WHEN s.nn[i][j] > 0 AND s.comm[j] = c
                           THEN 1 ELSE 0 END)) = 0
             THEN CAST(-1000000000000000000 AS BIGINT)
             ELSE s.m2 * list_sum(list_transform(range(1, s.k + 1),
                    j -> CASE WHEN s.comm[j] = c
                         THEN s.nn[i][j] ELSE 0 END))
                  - s.kd[i] * (list_sum(list_transform(
                        range(1, s.k + 1),
                        j -> CASE WHEN s.comm[j] = c
                             THEN s.kd[j] ELSE 0 END))
                      - CASE WHEN s.comm[i] = c
                             THEN s.kd[i] ELSE 0 END)
             END),
           list_max(
           list_transform(range(1, s.k + 1), c -> CASE
             WHEN c <> s.comm[i] AND list_sum(
                    list_transform(range(1, s.k + 1),
                      j -> CASE WHEN s.nn[i][j] > 0 AND s.comm[j] = c
                           THEN 1 ELSE 0 END)) = 0
             THEN CAST(-1000000000000000000 AS BIGINT)
             ELSE s.m2 * list_sum(list_transform(range(1, s.k + 1),
                    j -> CASE WHEN s.comm[j] = c
                         THEN s.nn[i][j] ELSE 0 END))
                  - s.kd[i] * (list_sum(list_transform(
                        range(1, s.k + 1),
                        j -> CASE WHEN s.comm[j] = c
                             THEN s.kd[j] ELSE 0 END))
                      - CASE WHEN s.comm[i] = c
                             THEN s.kd[i] ELSE 0 END)
             END))) AS INTEGER)) AS comm2,
         s.nn, s.kd, s.k, s.m2
  FROM st s WHERE s.r < {rounds}
), fin AS (
  SELECT comm, nn, kd, k, m2 FROM st ORDER BY r DESC LIMIT 1
), memb AS (
  SELECT ty.term, ty.ti, f.comm[ty.ti] AS c
  FROM ty, fin f
), lbl AS (
  SELECT c, min(term) AS community FROM memb GROUP BY c
), q4 AS (
  SELECT f.m2 * list_sum(list_transform(range(1, f.k + 1), i ->
           list_sum(list_transform(range(1, f.k + 1), j ->
             CASE WHEN f.comm[i] = f.comm[j]
                  THEN f.nn[i][j] ELSE 0 END))))
         - (SELECT sum(t * t) FROM (
              SELECT f2.comm[CAST(x.i AS INTEGER)] AS c,
                     sum(f2.kd[CAST(x.i AS INTEGER)]) AS t
              FROM fin f2, (SELECT unnest(range(1, (SELECT k FROM fin)
                                                + 1)) AS i) x
              GROUP BY 1)) AS qx
  FROM fin f
)
SELECT mb.term, l.community,
       CAST(count(*) OVER (PARTITION BY l.community) AS BIGINT)
           AS n_members,
       CAST((SELECT qx FROM q4) AS BIGINT) AS q_x4m2
FROM memb mb JOIN lbl l ON l.c = mb.c
"""


@register("kg_louvain_docs",
          _LOUVAIN_SQL.format(lex=kg_docs.lexicon_values_sql(),
                              min_cooc=kg_docs.MIN_COOCCURRENCES,
                              rounds=4))
def kg_louvain_docs(spark, sf_dir):
    """Deterministic synchronous Louvain phase-1 (Blondel et al. 2008)
    on the WEIGHTED doc co-occurrence graph: four rounds in which every
    node simultaneously moves to the neighbor community with the best
    modularity gain — compared fully cross-multiplied as 2m·k_{i,c} −
    k_i·Σtot(c∖i), exact integers, ties to the smallest community
    label — so the notoriously order-dependent sequential Louvain
    becomes partitioning-proof (the same determinism trade
    label_propagation documents). Final modularity is pinned as the
    exact integer Q·4m² = 2m·ΣΣ_in − Σ tot_c². Engine: per round one
    (node, neighbor-community) weight aggregate + a window argmax over
    candidates — all data-sized work is equi-joins; oracle: a
    nested-lambda list recursion over the vocabulary projection."""
    from .operators.kg_docs import MIN_COOCCURRENCES
    edges = (_cooc_edges(spark, sf_dir, MIN_COOCCURRENCES)
             .select(F.col("term_a").alias("src"),
                     F.col("term_b").alias("dst"),
                     F.col("common").cast("long").alias("w"))
             .localCheckpoint(eager=True))
    und = (edges.unionByName(
        edges.select(F.col("dst").alias("src"),
                     F.col("src").alias("dst"), "w"))
        .localCheckpoint(eager=True))
    deg = und.groupBy("src").agg(F.sum("w").alias("kd"))
    m2 = 2 * (edges.agg(F.sum("w")).collect()[0][0] or 0)
    nodes = deg.select(F.col("src").alias("node"), "kd")
    comm = nodes.select("node", F.col("node").alias("comm"))
    for _ in range(4):
        cdeg = (comm.join(nodes, "node")
                .groupBy("comm").agg(F.sum("kd").alias("tot")))
        kic = (und.join(comm.select(F.col("node").alias("dst"),
                                    F.col("comm").alias("cand")), "dst")
               .groupBy(F.col("src").alias("node"), "cand")
               .agg(F.sum("w").alias("kic")))
        cur = comm.select("node", F.col("comm").alias("curc"))
        cand = (kic.join(cur, "node")
                .unionByName(cur.select("node",
                                        F.col("curc").alias("cand"),
                                        F.lit(0).cast("long")
                                        .alias("kic"), "curc")
                             .select("node", "cand", "kic", "curc"))
                .groupBy("node", "cand", "curc")
                .agg(F.max("kic").alias("kic")))
        scored = (cand.join(nodes, "node")
                  .join(cdeg.select(F.col("comm").alias("cand"),
                                    "tot"), "cand")
                  .select("node", "cand",
                          (F.lit(m2) * F.col("kic")
                           - F.col("kd")
                           * (F.col("tot")
                              - F.when(F.col("cand") == F.col("curc"),
                                       F.col("kd")).otherwise(0)))
                          .alias("score")))
        w = Window.partitionBy("node").orderBy(F.desc("score"),
                                               F.asc("cand"))
        comm = (scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("node", F.col("cand").alias("comm"))
                .localCheckpoint(eager=True))
    lbl = comm.groupBy("comm").agg(F.min("node").alias("community"))
    sin = (und.join(comm.select(F.col("node").alias("src"),
                                F.col("comm").alias("ca")), "src")
           .join(comm.select(F.col("node").alias("dst"),
                             F.col("comm").alias("cb")), "dst")
           .filter(F.col("ca") == F.col("cb"))
           .agg(F.coalesce(F.sum("w"), F.lit(0)).alias("sin")))
    tots = (comm.join(nodes, "node").groupBy("comm")
            .agg(F.sum("kd").alias("tot")))
    sq = tots.agg(F.sum(F.col("tot") * F.col("tot")).alias("sq"))
    q4 = (sin.crossJoin(sq)
          .select((F.lit(m2) * F.col("sin") - F.col("sq"))
                  .cast("long").alias("qx")))
    wn = Window.partitionBy("community")
    return (comm.join(lbl, "comm").crossJoin(F.broadcast(q4))
            .select(F.col("node").alias("term"), "community",
                    F.count(F.lit(1)).over(wn).cast("long")
                    .alias("n_members"),
                    F.col("qx").alias("q_x4m2")))


_SQ8_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), dims AS (
  SELECT CAST(d.i AS INTEGER) AS dim,
         min(e.v[CAST(d.i AS INTEGER)]) AS lo,
         max(e.v[CAST(d.i AS INTEGER)]) AS hi
  FROM e, (SELECT unnest(range(1, 1 + len((SELECT v FROM e LIMIT 1))))
           AS i) d
  GROUP BY 1
), codes AS (
  SELECT e.vec_id, dims.dim,
         CAST(least(255, greatest(0,
           CAST(floor((e.v[dims.dim] - dims.lo) * 255
                      / (dims.hi - dims.lo)) AS BIGINT)))
             AS BIGINT) AS code,
         e.v[dims.dim] AS orig, dims.lo, dims.hi
  FROM e, dims
), err AS (
  SELECT vec_id,
         sum((orig - (lo + (code + 0.5) * (hi - lo) / 255))
             * (orig - (lo + (code + 0.5) * (hi - lo) / 255))) AS se,
         CAST(sum(code) AS BIGINT) AS code_sum
  FROM codes GROUP BY vec_id
)
SELECT vec_id, code_sum, round(se, 9) AS sq_err,
       CAST(CASE WHEN se < 0.0001 THEN 1 ELSE 0 END AS INTEGER)
           AS tight
FROM err ORDER BY vec_id LIMIT 200
"""


@register("ann_scalar_quantization", _SQ8_SQL)
def ann_scalar_quantization(spark, sf_dir):
    """Int8 scalar quantization of the embedding corpus (the SQ8 codec
    every production vector store ships as its default compression):
    per-dimension min/max affine mapping to 0..255 codes (floor, clamp)
    with midpoint reconstruction, emitting each vector's exact code sum
    (pinning every code integer) and its reconstruction squared error
    (round-9 — codes 4× smaller than float32 at this error). The
    per-dim ranges are two aggregates; coding is map-side only — at
    10⁹ vectors this is one pass, and the code table is what the
    ann_pq/ivf family would scan instead of raw floats. First 200
    vectors by id keep the gate result bounded."""
    emb = _t(spark, sf_dir, "embeddings")
    ndim = len(emb.select("embedding").first()["embedding"])
    e = emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v"))
    d = (e.select(F.explode(F.sequence(F.lit(1), F.lit(ndim)))
                  .alias("dim"), "v")
         .select("dim", F.element_at("v", F.col("dim")).alias("x"))
         .groupBy("dim").agg(F.min("x").alias("lo"),
                             F.max("x").alias("hi")))
    codes = (e.select("vec_id", F.explode(
        F.sequence(F.lit(1), F.lit(ndim))).alias("dim"), "v")
        .select("vec_id", "dim",
                F.element_at("v", F.col("dim")).alias("orig"))
        .join(F.broadcast(d), "dim")
        .select("vec_id",
                F.least(F.lit(255), F.greatest(F.lit(0), F.floor(
                    (F.col("orig") - F.col("lo")) * 255
                    / (F.col("hi") - F.col("lo"))))).cast("long")
                .alias("code"), "orig", "lo", "hi"))
    rec = (F.col("lo") + (F.col("code") + 0.5)
           * (F.col("hi") - F.col("lo")) / 255)
    err = (codes.groupBy("vec_id")
           .agg(F.sum((F.col("orig") - rec) * (F.col("orig") - rec))
                .alias("se"),
                F.sum("code").cast("long").alias("code_sum")))
    return (err.orderBy("vec_id").limit(200)
            .select("vec_id", "code_sum",
                    F.round("se", 9).alias("sq_err"),
                    F.when(F.col("se") < 0.0001, 1).otherwise(0)
                    .cast("int").alias("tight")))


_CONDUCT_SQL = _lpa_ctes(5, min_cooc=330) + """
, lab AS (SELECT node, label FROM l5),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM bd GROUP BY 1),
vol AS (
  SELECT lab.label, CAST(sum(deg.d) AS BIGINT) AS vol,
         CAST(count(*) AS BIGINT) AS n_members
  FROM lab JOIN deg ON deg.node = lab.node GROUP BY 1
), cut AS (
  SELECT label, CAST(count(*) AS BIGINT) AS cut FROM (
    SELECT la.label FROM e
    JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b
    WHERE la.label <> lb.label
    UNION ALL
    SELECT lb.label FROM e
    JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b
    WHERE la.label <> lb.label) GROUP BY 1
), te AS (SELECT CAST(2 * count(*) AS BIGINT) AS vt FROM e)
SELECT v.label AS community, v.n_members, v.vol AS volume,
       coalesce(c.cut, 0) AS cut_edges,
       CAST(CASE WHEN least(v.vol, te.vt - v.vol) > 0
                 THEN coalesce(c.cut, 0) * 1000000
                      // least(v.vol, te.vt - v.vol) END AS BIGINT)
           AS conductance_e6
FROM vol v LEFT JOIN cut c ON c.label = v.label, te
"""


@register("kg_conductance_docs", _CONDUCT_SQL)
def kg_conductance_docs(spark, sf_dir):
    """Per-community conductance (the Cheeger-style cut-quality measure,
    Shi-Malik / Kannan-Vempala-Vetta): φ(S) = cut(S) / min(vol(S),
    vol(V∖S)) for every label-propagation community — the EXTERNAL
    sparsity audit complementing kg_modularity_docs' internal-density
    score over the SAME partition (shared recurrence, so the two
    quality measures can never drift apart). Cut edges, volumes and
    the floor-divided φ·1e6 are all exact integers; a partition-wide
    community yields NULL (no cut to normalize). One degree aggregate
    + one label join over the edge list — scale-shape identical to
    the modularity computation."""
    from .operators.graph_algos import label_propagation
    edges = _cooc_edges(spark, sf_dir, 330)
    e = (edges.select(F.col("term_a").alias("a"),
                      F.col("term_b").alias("b")))
    lab = label_propagation(
        edges.withColumnRenamed("term_a", "subj")
             .withColumnRenamed("term_b", "obj"), n_iters=5) \
        .select("node", F.col("community").alias("label"))
    bd = (e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
          .unionByName(e.select(F.col("b").alias("node"),
                                F.col("a").alias("nbr"))).distinct())
    deg = bd.groupBy("node").agg(F.count(F.lit(1)).cast("long")
                                 .alias("d"))
    vol = (lab.join(deg, "node").groupBy("label")
           .agg(F.sum("d").cast("long").alias("vol"),
                F.count(F.lit(1)).cast("long").alias("n_members")))
    ej = (e.join(lab.select(F.col("node").alias("a"),
                            F.col("label").alias("la")), "a")
          .join(lab.select(F.col("node").alias("b"),
                           F.col("label").alias("lb")), "b")
          .filter(F.col("la") != F.col("lb")))
    cut = (ej.select(F.col("la").alias("label"))
           .unionByName(ej.select(F.col("lb").alias("label")))
           .groupBy("label").agg(F.count(F.lit(1)).cast("long")
                                 .alias("cut")))
    te = e.agg((2 * F.count(F.lit(1))).cast("long").alias("vt"))
    return (vol.join(cut, "label", "left").crossJoin(F.broadcast(te))
            .select(F.col("label").alias("community"), "n_members",
                    F.col("vol").alias("volume"),
                    F.coalesce("cut", F.lit(0)).cast("long")
                    .alias("cut_edges"),
                    F.expr("CAST(CASE WHEN least(vol, vt - vol) > 0"
                           " THEN coalesce(cut, 0) * 1000000"
                           " div least(vol, vt - vol) END AS BIGINT)")
                    .alias("conductance_e6")))


def _tsp_sql(n: int = 10) -> str:
    """Held-Karp oracle: the DP over subsets as one unrolled flat table
    per subset size (house pagerank-unroll technique) — s{k} holds
    (mask, last, cost) minima for tours visiting k cities from city 1;
    distances are e6-floored cosine distances fixed ONCE in `dist`."""
    steps = []
    for k in range(2, n + 1):
        p = f"s{k - 1}"
        steps.append(f""",
s{k} AS MATERIALIZED (
  SELECT mask | (1 << (j - 1)) AS mask, j AS last,
         min(cost + d) AS cost
  FROM (SELECT s.mask, s.last, s.cost, d.j, d.d
        FROM {p} s JOIN dist d ON d.i = s.last
        WHERE (s.mask & (1 << (d.j - 1))) = 0)
  GROUP BY 1, 2
)""")
    return f"""
WITH e AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) AS i,
         embedding::DOUBLE[] AS v
  FROM embeddings ORDER BY vec_id LIMIT {n}
), dist AS MATERIALIZED (
  SELECT a.i, b.i AS j,
         CAST(floor(1000000 * (1.0
           - list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))))) AS BIGINT) AS d
  FROM e a JOIN e b ON a.i <> b.i
), s1 AS (SELECT 1 AS mask, 1 AS last, CAST(0 AS BIGINT) AS cost)
{"".join(steps)}
SELECT CAST({n} AS INTEGER) AS n_cities,
       CAST(min(s.cost + d.d) AS BIGINT) AS optimal_tour_e6,
       CAST((SELECT count(*) FROM s{n // 2 + 1}) AS BIGINT)
           AS n_mid_states,
       CAST((SELECT min(cost) FROM s{n}) AS BIGINT) AS best_path_e6
FROM s{n} s JOIN dist d ON d.i = s.last AND d.j = 1
"""


@register("ann_tsp_heldkarp", _tsp_sql())
def ann_tsp_heldkarp(spark, sf_dir):
    """Exact travelling-salesman tour (Held-Karp 1962, the O(n²2ⁿ)
    bitmask DP) through the first 10 embedding vectors under e6-floored
    cosine distances — the optimal-ordering primitive behind seriation
    / minimal-seek batch layouts, solved EXACTLY where greedy k-center
    (ann_kcenter_gonzalez) only approximates. Distances are floored to
    integers once, so the whole DP is exact integer arithmetic;
    optimal closed-tour cost, the best open-path cost and the DP's
    mid-layer state count (pinning the subset enumeration, C(9,4)·5
    states) are all emitted. Engine: bounded driver DP (1024×10
    states); oracle: one flat (mask, last, cost) minimum table per
    subset size."""
    emb = (_t(spark, sf_dir, "embeddings").orderBy("vec_id").limit(10)
           .select("embedding").collect())
    import math as _m
    vs = [list(r["embedding"]) for r in emb]
    n = len(vs)

    def dist(a, b):
        dot = sum(x * y for x, y in zip(vs[a], vs[b]))
        na = _m.sqrt(sum(x * x for x in vs[a]))
        nb = _m.sqrt(sum(x * x for x in vs[b]))
        return int(_m.floor(1_000_000 * (1.0 - dot / (na * nb))))

    d = [[0] * n for _ in range(n)]
    for i in range(n):
        for j in range(n):
            if i != j:
                d[i][j] = dist(i, j)
    INF = float("inf")
    dp = {(1, 0): 0}
    for mask in range(1, 1 << n):
        if not mask & 1:
            continue
        for last in range(n):
            if (mask, last) not in dp:
                continue
            base = dp[(mask, last)]
            for j in range(1, n):
                if mask & (1 << j):
                    continue
                key = (mask | (1 << j), j)
                cand = base + d[last][j]
                if cand < dp.get(key, INF):
                    dp[key] = cand
    full = (1 << n) - 1
    tour = min(dp[(full, last)] + d[last][0] for last in range(1, n))
    path = min(dp[(full, last)] for last in range(n)
               if (full, last) in dp)
    mid = n // 2 + 1
    n_mid = sum(1 for (mask, _last) in dp
                if bin(mask).count("1") == mid)
    out = [(n, tour, n_mid, path)]
    return spark.createDataFrame(
        out, "n_cities int, optimal_tour_e6 long, n_mid_states long,"
             " best_path_e6 long")


_KIRCHHOFF_SQL = """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 330
), bd AS (SELECT a AS x, b AS y FROM e UNION SELECT b, a FROM e),
nodes AS (SELECT DISTINCT x AS term FROM bd),
comp AS (
  -- restrict to the component of the min node (Kirchhoff needs
  -- a connected graph): min-label closure
  SELECT DISTINCT term FROM nodes
  WHERE term IN (
    WITH RECURSIVE rc(v) AS (
      SELECT min(term) FROM nodes
      UNION
      SELECT bd.y FROM rc JOIN bd ON bd.x = rc.v)
    SELECT v FROM rc)
), ty AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS INTEGER) AS ti
  FROM comp
), nn AS (
  SELECT x.ti AS i, y.ti AS j,
         CAST(CASE WHEN EXISTS (SELECT 1 FROM e
                WHERE (e.a = x.term AND e.b = y.term)
                   OR (e.a = y.term AND e.b = x.term))
              THEN 1 ELSE 0 END AS HUGEINT) AS adj
  FROM ty x, ty y
), deg AS (
  SELECT i, sum(adj) AS d FROM nn GROUP BY i
), dims AS (SELECT CAST(count(*) AS INTEGER) - 1 AS msz FROM ty),
lap AS (
  -- reduced Laplacian: drop the last row/column
  SELECT (SELECT list(l ORDER BY i) FROM (
    SELECT n2.i, list(CASE WHEN n2.i = n2.j THEN dg.d
                           ELSE -n2.adj END ORDER BY n2.j) AS l
    FROM nn n2 JOIN deg dg ON dg.i = n2.i, dims
    WHERE n2.i <= dims.msz AND n2.j <= dims.msz
    GROUP BY n2.i) q) AS mat,
    (SELECT msz FROM dims) AS msz
), st AS (
  SELECT 0 AS k, l.mat AS mat, l.msz AS msz FROM lap l
  UNION ALL
  SELECT s.k + 1,
         list_transform(range(1, s.msz + 1), i ->
           list_transform(range(1, s.msz + 1), j ->
             CASE WHEN i > s.k + 1 AND j > s.k + 1
             THEN (s.mat[s.k + 1][s.k + 1] * s.mat[i][j]
                   - s.mat[i][s.k + 1] * s.mat[s.k + 1][j])
                  // (CASE WHEN s.k = 0 THEN 1
                      ELSE s.mat[s.k][s.k] END)
             ELSE s.mat[i][j] END)),
         s.msz
  FROM st s WHERE s.k < s.msz - 1
), fin AS (
  SELECT mat, msz FROM st ORDER BY k DESC LIMIT 1
)
SELECT CAST(f.msz + 1 AS INTEGER) AS n_nodes,
       CAST((SELECT count(*) FROM e
             WHERE e.a IN (SELECT term FROM comp)) AS BIGINT)
           AS n_edges,
       CAST(f.mat[f.msz][f.msz] AS VARCHAR) AS n_spanning_trees
FROM fin f
""".format(lex=kg_docs.lexicon_values_sql())


@register("kg_spanning_trees_docs", _KIRCHHOFF_SQL)
def kg_spanning_trees_docs(spark, sf_dir):
    """EXACT spanning-tree count of the sparsified co-occurrence
    graph's main component via Kirchhoff's matrix-tree theorem (1847):
    the determinant of the reduced Laplacian, computed by FRACTION-FREE
    Bareiss elimination — every intermediate entry is an exact integer
    minor, every division is exact (so truncation equals floor), and no
    pivoting is needed because reduced Laplacians of connected graphs
    are positive definite. The count is the graph's global redundancy
    measure (1 = a tree, growth is exponential in cycle richness) —
    the exact counterpart of the Borůvka forest's single witness tree.
    Engine: bounded driver Bareiss over the vocabulary projection;
    oracle: the identical elimination as a nested-list recursion, one
    step per pivot."""
    from .operators.canonicalize import connected_components
    edges = (_cooc_edges(spark, sf_dir, 330)
             .select(F.col("term_a").alias("src"),
                     F.col("term_b").alias("dst")))
    comp = (connected_components(edges, driver_threshold=0)
            .select(F.col("norm_term").alias("node"),
                    F.col("canon").alias("component")))
    root = comp.agg(F.min("node").alias("r")).collect()[0]["r"]
    main = {r["node"] for r in
            comp.filter(F.col("component")
                        == comp.filter(F.col("node") == root)
                        .select("component").collect()[0][0])
            .collect()}
    erows = [(r["src"], r["dst"]) for r in edges.collect()
             if r["src"] in main and r["dst"] in main]
    nodes = sorted(main)
    ti = {t: i for i, t in enumerate(nodes)}
    n = len(nodes)
    lap = [[0] * n for _ in range(n)]
    for a, b in erows:
        lap[ti[a]][ti[a]] += 1
        lap[ti[b]][ti[b]] += 1
        lap[ti[a]][ti[b]] -= 1
        lap[ti[b]][ti[a]] -= 1
    msz = n - 1
    mat = [row[:msz] for row in lap[:msz]]
    for k in range(msz - 1):
        piv_prev = mat[k - 1][k - 1] if k > 0 else 1
        for i in range(k + 1, msz):
            for j in range(k + 1, msz):
                mat[i][j] = (mat[k][k] * mat[i][j]
                             - mat[i][k] * mat[k][j]) // piv_prev
    trees = mat[msz - 1][msz - 1] if msz >= 1 else 1
    out = [(n, len(erows), str(trees))]
    return spark.createDataFrame(
        out, "n_nodes int, n_edges long, n_spanning_trees string")


_COLORING_SQL = """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {min_cooc}
), nodes AS (
  SELECT DISTINCT term FROM (SELECT a AS term FROM e
                             UNION SELECT b FROM e)
), deg AS (
  SELECT n.term, CAST(count(*) AS BIGINT) AS d
  FROM nodes n JOIN (SELECT a AS x, b AS y FROM e
                     UNION SELECT b, a FROM e) bd ON bd.x = n.term
  GROUP BY 1
), ty AS (
  SELECT term, d,
         CAST(row_number() OVER (ORDER BY d DESC, term) AS INTEGER)
             AS ord
  FROM deg
), nn AS (
  SELECT x.ord AS i, y.ord AS j,
         CAST(CASE WHEN EXISTS (
           SELECT 1 FROM e WHERE (e.a = x.term AND e.b = y.term)
                              OR (e.a = y.term AND e.b = x.term))
         THEN 1 ELSE 0 END AS INTEGER) AS adj
  FROM ty x, ty y
), consts AS (
  SELECT (SELECT list(l ORDER BY i) FROM (
            SELECT i, list(adj ORDER BY j) AS l FROM nn GROUP BY i) q)
      AS mat,
         (SELECT CAST(count(*) AS INTEGER) FROM ty) AS k
), st AS (
  SELECT 0 AS i, list_transform(range(1, c.k + 1), x -> 0) AS col,
         c.mat AS mat, c.k AS k
  FROM consts c
  UNION ALL
  SELECT s.i + 1,
         list_transform(range(1, s.k + 1), x ->
           CASE WHEN x = s.i + 1 THEN
             CAST(list_position(
               list_transform(range(1, s.k + 1), cc ->
                 CASE WHEN list_sum(list_transform(range(1, s.k + 1),
                        j -> CASE WHEN s.mat[s.i + 1][j] = 1
                                   AND s.col[j] = cc
                             THEN 1 ELSE 0 END)) = 0
                 THEN 1 ELSE 0 END), 1) AS INTEGER)
           ELSE s.col[x] END),
         s.mat, s.k
  FROM st s WHERE s.i < s.k
), fin AS (SELECT col, k FROM st ORDER BY i DESC LIMIT 1)
SELECT ty.term, CAST(ty.d AS BIGINT) AS degree, ty.ord AS greedy_order,
       CAST(f.col[ty.ord] AS INTEGER) AS color,
       CAST(list_max(f.col) AS INTEGER) AS n_colors
FROM ty, fin f
""".format(lex=kg_docs.lexicon_values_sql(),
           min_cooc=kg_docs.MIN_COOCCURRENCES)


@register("kg_greedy_coloring_docs", _COLORING_SQL)
def kg_greedy_coloring_docs(spark, sf_dir):
    """Welsh-Powell greedy coloring (1967) of the co-occurrence graph:
    nodes in degree-descending (term-tiebroken) order each take the
    SMALLEST color unused among already-colored neighbors — the
    conflict-free scheduling primitive (χ colors = χ parallel rounds
    for mutually-exclusive updates), guaranteed ≤ Δ+1 and, via the
    degeneracy ordering already in the registry (kg_degeneracy_docs),
    ≤ degeneracy+1. The assignment is inherently sequential, so the
    engine replays it over the bounded vocabulary projection while the
    oracle runs the identical one-node-per-step list recursion with a
    nested-lambda smallest-free-color search. Full coloring + color
    count emitted."""
    from .operators.kg_docs import MIN_COOCCURRENCES
    edges = _cooc_edges(spark, sf_dir, MIN_COOCCURRENCES)
    rows = edges.select("term_a", "term_b").collect()
    adj: dict[str, set] = {}
    for r in rows:
        adj.setdefault(r["term_a"], set()).add(r["term_b"])
        adj.setdefault(r["term_b"], set()).add(r["term_a"])
    order = sorted(adj, key=lambda t: (-len(adj[t]), t))
    color: dict[str, int] = {}
    for t in order:
        used = {color[n] for n in adj[t] if n in color}
        c = 1
        while c in used:
            c += 1
        color[t] = c
    n_colors = max(color.values())
    out = [(t, len(adj[t]), i + 1, color[t], n_colors)
           for i, t in enumerate(order)]
    return spark.createDataFrame(
        out, "term string, degree long, greedy_order int, color int,"
             " n_colors int")


_CHATRENDER_SQL = """
WITH turns AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_id,
         CAST(row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                 ORDER BY ts, event_id) - 1 AS BIGINT)
             AS turn_idx,
         event_type || ':' || event_id AS text
  FROM events
), seg AS (
  SELECT user_id, day, turn_idx,
         CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END
             AS role,
         text,
         '<|' || CASE WHEN turn_idx % 2 = 0 THEN 'user'
                 ELSE 'assistant' END || '|>' || text || '<|end|>'
             AS rendered
  FROM turns
), off AS (
  SELECT *,
         sum(length(rendered)) OVER (PARTITION BY user_id, day
                                     ORDER BY turn_idx)
           - length(rendered) AS seg_start
  FROM seg
), spans AS (
  SELECT user_id, day,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_assistant_turns,
         CAST(sum(length(rendered)) AS BIGINT) AS rendered_len,
         CAST(sum(CASE WHEN role = 'assistant' THEN length(text)
                  ELSE 0 END) AS BIGINT) AS masked_chars,
         md5(string_agg(rendered, '' ORDER BY turn_idx))
             AS rendered_md5,
         md5(coalesce(string_agg(
             CASE WHEN role = 'assistant'
             THEN (seg_start + length('<|assistant|>'))::VARCHAR || '-'
                  || (seg_start + length('<|assistant|>')
                      + length(text))::VARCHAR END, '|'
             ORDER BY turn_idx), '')) AS spans_md5
  FROM off GROUP BY user_id, day
)
SELECT user_id, day, n_turns, n_assistant_turns, rendered_len,
       masked_chars, rendered_md5, spans_md5
FROM spans ORDER BY user_id, day LIMIT 200
"""


@register("data_chat_render_mask", _CHATRENDER_SQL)
def data_chat_render_mask(spark, sf_dir):
    """Chat-template rendering with LOSS-MASK spans — the
    training-pair preparation step of the transcripts north rule,
    exercised over data-derived conversations (each user-day is a
    conversation, turns alternate user/assistant): every turn is
    wrapped <|role|>text<|end|>, concatenated in turn order, and the
    assistant text spans' exact character offsets (the tokens a
    supervised-fine-tune computes loss on) are derived from a running
    prefix-length window — no sequential pass. The rendered string and
    the span list are md5-pinned per conversation alongside the masked
    char budget. Everything is string + integer arithmetic, identical
    across engines; first 200 conversations keep the gate result
    bounded while the plan (one window + one grouped aggregate per
    conversation key) is the 10⁹-conversation shape."""
    e = _t(spark, sf_dir, "events")
    wturn = Window.partitionBy("user_id", "day").orderBy("ts",
                                                         "event_id")
    turns = (e.withColumn("day", F.to_date("ts"))
             .select("user_id", "day", "ts", "event_id",
                     (F.row_number().over(wturn) - 1).cast("long")
                     .alias("turn_idx"),
                     F.concat("event_type", F.lit(":"),
                              F.col("event_id")).alias("text")))
    role = F.when(F.col("turn_idx") % 2 == 0, "user") \
            .otherwise("assistant")
    seg = turns.withColumn("role", role).withColumn(
        "rendered", F.concat(F.lit("<|"), F.col("role"), F.lit("|>"),
                             F.col("text"), F.lit("<|end|>")))
    woff = Window.partitionBy("user_id", "day").orderBy("turn_idx")
    off = seg.withColumn(
        "seg_start", F.sum(F.length("rendered")).over(woff)
        - F.length("rendered"))
    span_str = F.when(
        F.col("role") == "assistant",
        F.concat((F.col("seg_start")
                  + F.length(F.lit("<|assistant|>"))).cast("string"),
                 F.lit("-"),
                 (F.col("seg_start") + F.length(F.lit("<|assistant|>"))
                  + F.length("text")).cast("string")))
    spans = (off.withColumn("sp", span_str)
             .groupBy("user_id", "day")
             .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                  F.sum(F.when(F.col("role") == "assistant", 1)
                        .otherwise(0)).cast("long")
                  .alias("n_assistant_turns"),
                  F.sum(F.length("rendered")).cast("long")
                  .alias("rendered_len"),
                  F.sum(F.when(F.col("role") == "assistant",
                               F.length("text")).otherwise(0))
                  .cast("long").alias("masked_chars"),
                  F.md5(F.concat_ws(
                      "", F.array_sort(F.collect_list(
                          F.struct("turn_idx", "rendered")))
                      .getField("rendered"))).alias("rendered_md5"),
                  F.md5(F.concat_ws(
                      "|", F.filter(
                          F.array_sort(F.collect_list(
                              F.struct("turn_idx", "sp")))
                          .getField("sp"),
                          lambda x: x.isNotNull())))
                  .alias("spans_md5")))
    return spans.orderBy("user_id", "day").limit(200)


_BWT_INV_SQL = """
WITH RECURSIVE d AS (
  SELECT regexp_replace(lower(substr(text, 1, 200)), '[^a-z ]', '', 'g')
         || '!' AS s
  FROM documents ORDER BY doc_id LIMIT 1
), idx AS (
  SELECT CAST(unnest(range(1, length((SELECT s FROM d)) + 1))
              AS INTEGER) AS i
), rot AS (
  SELECT i AS start_idx,
         substr(d.s, i) || substr(d.s, 1, i - 1) AS r, d.s AS s
  FROM idx, d
), ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY r) AS INTEGER) AS rank,
         start_idx, substr(r, length(s), 1) AS ch
  FROM rot
), lf AS (
  -- LF mapping: occurrence-rank of each last-column char equals its
  -- occurrence-rank in the first column; first column = sorted chars
  SELECT rank, ch,
         CAST(row_number() OVER (ORDER BY ch, rank) AS INTEGER)
             AS first_pos
  FROM ranked
), orig AS (
  SELECT rank AS pos FROM ranked
  WHERE start_idx = 1
), walk AS (
  -- reconstruct BACKWARD from the rotation starting at position 1:
  -- its last char is the sentinel's predecessor chain
  SELECT 0 AS k, (SELECT pos FROM orig) AS pos,
         CAST('' AS VARCHAR) AS acc
  UNION ALL
  SELECT w.k + 1, lf.first_pos, lf.ch || w.acc
  FROM walk w JOIN lf ON lf.rank = w.pos
  WHERE w.k < (SELECT length(s) FROM d)
), rec AS (
  SELECT acc FROM walk ORDER BY k DESC LIMIT 1
)
SELECT CAST(length(d.s) AS INTEGER) AS n_chars,
       md5(d.s) AS original_md5,
       md5(rec.acc) AS reconstructed_md5,
       rec.acc = d.s AS roundtrip_ok
FROM d, rec
"""


@register("text_bwt_inverse", _BWT_INV_SQL)
def text_bwt_inverse(spark, sf_dir):
    """Burrows-Wheeler INVERSE transform — the half that makes BWT a
    codec rather than a curiosity: reconstruct the original string
    from nothing but the last column via LF-mapping (the k-th
    occurrence of c in the last column IS the k-th occurrence of c in
    the sorted first column), walking the permutation one character
    per step. Completes text_bwt_runs with a pinned round-trip proof:
    original md5, reconstructed md5 and their equality are all
    emitted, so a rank slip anywhere in the mapping flips the result.
    Engine: bounded driver walk over the 201-char pinned prefix;
    oracle: the identical walk as a string-accumulating recursion."""
    import hashlib as _h
    import re as _re

    docs = (_t(spark, sf_dir, "documents").orderBy("doc_id").limit(1)
            .select("text").collect())
    s = _re.sub(r"[^a-z ]", "", docs[0]["text"][:200].lower()) + "!"
    n = len(s)
    rots = sorted(range(1, n + 1),
                  key=lambda i: s[i - 1:] + s[:i - 1])
    last = [s[(i - 2) % n] for i in rots]
    # first_pos by (char, rank-order) — stable occurrence pairing
    order = sorted(range(n), key=lambda r: (last[r], r))
    first_pos = [0] * n
    for fp, r in enumerate(order, start=1):
        first_pos[r] = fp
    pos = rots.index(1) + 1
    acc = []
    for _ in range(n):
        acc.append(last[pos - 1])
        pos = first_pos[pos - 1]
    rec = "".join(reversed(acc))
    out = [(n, _h.md5(s.encode()).hexdigest(),
            _h.md5(rec.encode()).hexdigest(), rec == s)]
    return spark.createDataFrame(
        out, "n_chars int, original_md5 string,"
             " reconstructed_md5 string, roundtrip_ok boolean")


_JL_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  ORDER BY vec_id LIMIT 20
), dims AS (
  SELECT CAST(len((SELECT v FROM e LIMIT 1)) AS INTEGER) AS nd
), proj AS (
  SELECT e.vec_id, k.k,
         list_sum(list_transform(range(1, dims.nd + 1), j ->
           v[CAST(j AS INTEGER)]
           * (CASE WHEN substr(md5('jl:' || k.k || ':'
                                || CAST(j AS INTEGER)), 16, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1.0 ELSE -1.0 END))) AS p
  FROM e, dims, (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS k) k
  GROUP BY e.vec_id, k.k, dims.nd, e.v
), pv AS (
  SELECT vec_id, list(p ORDER BY k) AS pv FROM proj GROUP BY vec_id
), pairs AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         list_sum(list_transform(range(1, len(a.v) + 1), j ->
           (a.v[CAST(j AS INTEGER)] - b.v[CAST(j AS INTEGER)])
           * (a.v[CAST(j AS INTEGER)] - b.v[CAST(j AS INTEGER)])))
             AS d2,
         list_sum(list_transform(range(1, 9), j ->
           (pa.pv[CAST(j AS INTEGER)] - pb.pv[CAST(j AS INTEGER)])
           * (pa.pv[CAST(j AS INTEGER)] - pb.pv[CAST(j AS INTEGER)])))
             AS pd2
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  JOIN pv pa ON pa.vec_id = a.vec_id
  JOIN pv pb ON pb.vec_id = b.vec_id
)
SELECT ida, idb, round(d2, 9) AS dist_sq,
       round(pd2 / 8, 9) AS proj_dist_sq_scaled,
       round(pd2 / 8 / d2, 6) AS distortion_ratio
FROM pairs
"""


@register("ann_jl_projection", _JL_SQL)
def ann_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection with Achlioptas (2003)
    ±1 signs (md5 hex-digit parity — database-friendly, no Gaussians):
    the first 20 embeddings projected to 8 dimensions, with every
    pairwise squared distance emitted next to its (1/k)-scaled
    projected counterpart and the distortion ratio the JL lemma bounds
    — the dimensionality-reduction audit run before committing an ANN
    index to a reduced space. Sign expressions are shared verbatim
    with the AMS sketch discipline; all arithmetic is IEEE-identical
    across engines with round-6/9 only at the emission boundary."""
    emb = (_t(spark, sf_dir, "embeddings").orderBy("vec_id").limit(20)
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v")))
    nd = len(emb.select("v").first()["v"])
    ks = spark.range(0, 8).select(F.col("id").cast("int").alias("k"))
    sign = F.when(
        F.substring(F.md5(F.concat(F.lit("jl:"), F.col("k"),
                                   F.lit(":"), F.col("j"))), 16, 1)
        .isin("0", "2", "4", "6", "8", "a", "c", "e"),
        F.lit(1.0)).otherwise(F.lit(-1.0))
    proj = (emb.crossJoin(F.broadcast(ks))
            .select("vec_id", "k", F.posexplode("v").alias("j0", "x"))
            .select("vec_id", "k", (F.col("j0") + 1).alias("j"), "x")
            .select("vec_id", "k", (F.col("x") * sign).alias("t"))
            .groupBy("vec_id", "k").agg(F.sum("t").alias("p")))
    pv = (proj.groupBy("vec_id")
          .agg(F.array_sort(F.collect_list(F.struct("k", "p")))
               .getField("p").alias("pv")))
    a = emb.alias("a")
    b = emb.alias("b")
    d2 = F.expr("aggregate(zip_with(a.v, b.v, (x, y) -> (x-y)*(x-y)),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    pd2 = F.expr("aggregate(zip_with(pa.pv, pb.pv,"
                 " (x, y) -> (x-y)*(x-y)),"
                 " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
    pairs = (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .join(pv.alias("pa"),
                   F.col("pa.vec_id") == F.col("a.vec_id"))
             .join(pv.alias("pb"),
                   F.col("pb.vec_id") == F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("ida"),
                     F.col("b.vec_id").alias("idb"),
                     d2.alias("d2"), pd2.alias("pd2")))
    return pairs.select(
        "ida", "idb", F.round("d2", 9).alias("dist_sq"),
        F.round(F.col("pd2") / 8, 9).alias("proj_dist_sq_scaled"),
        F.round(F.col("pd2") / 8 / F.col("d2"), 6)
        .alias("distortion_ratio"))


_EFFRES_SQL = """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 330
), bd AS (SELECT a AS x, b AS y FROM e UNION SELECT b, a FROM e),
nodes AS (SELECT DISTINCT x AS term FROM bd),
comp AS (
  SELECT DISTINCT term FROM nodes
  WHERE term IN (
    WITH RECURSIVE rc(v) AS (
      SELECT min(term) FROM nodes
      UNION
      SELECT bd.y FROM rc JOIN bd ON bd.x = rc.v)
    SELECT v FROM rc)
), ty AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS INTEGER) AS ti
  FROM comp
), nn AS (
  SELECT x.ti AS i, y.ti AS j,
         CAST(CASE WHEN EXISTS (SELECT 1 FROM e
                WHERE (e.a = x.term AND e.b = y.term)
                   OR (e.a = y.term AND e.b = x.term))
              THEN 1 ELSE 0 END AS HUGEINT) AS adj
  FROM ty x, ty y
), deg AS (
  SELECT i, sum(adj) AS d FROM nn GROUP BY i
), lapfull AS (
  SELECT (SELECT list(l ORDER BY i) FROM (
    SELECT n2.i, list(CASE WHEN n2.i = n2.j THEN dg.d
                           ELSE -n2.adj END ORDER BY n2.j) AS l
    FROM nn n2 JOIN deg dg ON dg.i = n2.i
    GROUP BY n2.i) q) AS L,
    (SELECT CAST(count(*) AS INTEGER) FROM ty) AS n
), ce AS (
  SELECT e.a, e.b, ta.ti AS ui, tb.ti AS vi,
         CAST(row_number() OVER (ORDER BY e.a, e.b) AS INTEGER) AS eid
  FROM e JOIN ty ta ON ta.term = e.a JOIN ty tb ON tb.term = e.b
), kl AS (
  SELECT ce.eid, list(t.ti ORDER BY t.ti) AS ks
  FROM ce JOIN ty t ON t.ti <> ce.ui AND t.ti <> ce.vi
  GROUP BY ce.eid
), init AS (
  -- eid 0 carries the denominator (Laplacian minus the last node:
  -- #spanning trees); eid >= 1 carries one numerator per edge
  -- (Laplacian minus BOTH endpoints: #spanning 2-forests separating
  -- them, = #spanning trees that contain the edge)
  SELECT 0 AS eid, list_transform(range(1, lf.n), i ->
           list_transform(range(1, lf.n), j -> lf.L[i][j])) AS mat,
         CAST(lf.n - 1 AS INTEGER) AS msz
  FROM lapfull lf
  UNION ALL
  SELECT kl.eid,
         list_transform(kl.ks, i ->
           list_transform(kl.ks, j -> lf.L[i][j])),
         CAST(len(kl.ks) AS INTEGER)
  FROM kl, lapfull lf
), st AS (
  SELECT eid, 0 AS k, mat, msz FROM init
  UNION ALL
  SELECT s.eid, s.k + 1,
         list_transform(range(1, s.msz + 1), i ->
           list_transform(range(1, s.msz + 1), j ->
             CASE WHEN i > s.k + 1 AND j > s.k + 1
             THEN (s.mat[s.k + 1][s.k + 1] * s.mat[i][j]
                   - s.mat[i][s.k + 1] * s.mat[s.k + 1][j])
                  // (CASE WHEN s.k = 0 THEN 1
                      ELSE s.mat[s.k][s.k] END)
             ELSE s.mat[i][j] END)),
         s.msz
  FROM st s WHERE s.k < s.msz - 1
), fin AS (
  SELECT eid, mat[msz][msz] AS det
  FROM st
  QUALIFY row_number() OVER (PARTITION BY eid ORDER BY k DESC) = 1
), tt AS (SELECT det AS t FROM fin WHERE eid = 0),
fs AS (
  SELECT sum(coalesce(f.det, 1)) AS sf
  FROM ce LEFT JOIN fin f ON f.eid = ce.eid
)
SELECT ce.a AS term_a, ce.b AS term_b,
       CAST(coalesce(f.det, 1) AS VARCHAR) AS trees_through_edge,
       CAST(tt.t AS VARCHAR) AS n_spanning_trees,
       CAST(coalesce(f.det, 1) * 1000000 // tt.t AS BIGINT)
           AS resistance_e6,
       (SELECT sf FROM fs)
           = ((SELECT n FROM lapfull) - 1) * tt.t AS foster_ok
FROM ce LEFT JOIN fin f ON f.eid = ce.eid, tt
""".format(lex=kg_docs.lexicon_values_sql())


@register("kg_effective_resistance_docs", _EFFRES_SQL)
def kg_effective_resistance_docs(spark, sf_dir):
    """EXACT effective resistance across every edge of the sparsified
    co-occurrence graph's main component, as a ratio of two Kirchhoff
    determinants: R(u,v) = det(L minus rows/cols {u,v}) / det(L minus
    one row/col) — the numerator counts spanning 2-forests separating
    u from v, which by the matrix-tree theorem equals the number of
    spanning trees CONTAINING edge (u,v), so the same row doubles as
    exact spanning-tree edge centrality. Both determinants run through
    the fraction-free Bareiss elimination the kg_spanning_trees_docs
    query pinned (every entry an exact integer minor, every division
    exact). Foster's theorem — the sum of edge resistances of a
    connected graph is EXACTLY n-1 — is verified in integer form
    (sum of numerators == (n-1)·T) and PINNED TRUE on every row, so a
    single wrong minor anywhere flips the result. Engine: bounded
    driver Bareiss per edge over the vocabulary projection (the graph
    is lexicon-bounded, documented at kg_spanning_trees_docs); oracle:
    the identical eliminations as ONE nested-list recursion keyed by
    edge id, the denominator riding as edge 0."""
    from .operators.canonicalize import connected_components
    edges = (_cooc_edges(spark, sf_dir, 330)
             .select(F.col("term_a").alias("src"),
                     F.col("term_b").alias("dst")))
    comp = (connected_components(edges, driver_threshold=0)
            .select(F.col("norm_term").alias("node"),
                    F.col("canon").alias("component")))
    root = comp.agg(F.min("node").alias("r")).collect()[0]["r"]
    rc = (comp.filter(F.col("node") == root)
          .select("component").collect()[0][0])
    main = {r["node"] for r in
            comp.filter(F.col("component") == F.lit(rc)).collect()}
    erows = sorted((r["src"], r["dst"]) for r in edges.collect()
                   if r["src"] in main and r["dst"] in main)
    nodes = sorted(main)
    ti = {t: i for i, t in enumerate(nodes)}
    n = len(nodes)
    lap = [[0] * n for _ in range(n)]
    for a, b in erows:
        lap[ti[a]][ti[a]] += 1
        lap[ti[b]][ti[b]] += 1
        lap[ti[a]][ti[b]] -= 1
        lap[ti[b]][ti[a]] -= 1

    def _det(keep):
        m = [[lap[i][j] for j in keep] for i in keep]
        sz = len(m)
        if sz == 0:
            return 1
        for k in range(sz - 1):
            piv = m[k - 1][k - 1] if k > 0 else 1
            for i2 in range(k + 1, sz):
                for j2 in range(k + 1, sz):
                    m[i2][j2] = (m[k][k] * m[i2][j2]
                                 - m[i2][k] * m[k][j2]) // piv
        return m[sz - 1][sz - 1]

    t_count = _det(list(range(n - 1)))
    dets = [(a, b, _det([i for i in range(n)
                         if i not in (ti[a], ti[b])]))
            for a, b in erows]
    foster = sum(fv for _, _, fv in dets) == (n - 1) * t_count
    out = [(a, b, str(fv), str(t_count), fv * 1000000 // t_count,
            foster) for a, b, fv in dets]
    return spark.createDataFrame(
        out, "term_a string, term_b string, trees_through_edge string,"
             " n_spanning_trees string, resistance_e6 long,"
             " foster_ok boolean")


_NW_SQL = """
WITH RECURSIVE ds AS (
  SELECT doc_id,
         regexp_replace(lower(substr(text, 1, 120)), '[^a-z ]', '', 'g')
             AS s
  FROM documents ORDER BY doc_id LIMIT 2
), ab AS (
  SELECT (SELECT s FROM ds ORDER BY doc_id LIMIT 1) AS a,
         (SELECT s FROM ds ORDER BY doc_id DESC LIMIT 1) AS b
), dims AS (
  SELECT a, b, CAST(length(a) AS INTEGER) AS m,
         CAST(length(b) AS INTEGER) AS n
  FROM ab
), st AS (
  SELECT 1 AS d,
         list_transform(range(1, dims.m + 1),
                        i -> CAST(NULL AS BIGINT)) AS hd,
         list_transform(range(1, dims.m + 1),
                        i -> CAST(NULL AS BIGINT)) AS hm1,
         dims.a AS a, dims.b AS b, dims.m AS m, dims.n AS n
  FROM dims
  UNION ALL
  SELECT s.d + 1,
         list_transform(range(1, s.m + 1), i -> CASE
           WHEN s.d + 1 - i >= 1 AND s.d + 1 - i <= s.n
           THEN greatest(
             (CASE WHEN i >= 2 AND s.d + 1 - i >= 2
                   THEN s.hm1[i - 1]
                   WHEN i = 1 THEN CAST(-2 * (s.d - i) AS BIGINT)
                   ELSE CAST(-2 * (i - 1) AS BIGINT) END)
               + (CASE WHEN substr(s.a, CAST(i AS INTEGER), 1)
                          = substr(s.b, CAST(s.d + 1 - i AS INTEGER), 1)
                  THEN 2 ELSE -1 END),
             (CASE WHEN i >= 2 THEN s.hd[i - 1]
                   ELSE CAST(-2 * (s.d + 1 - i) AS BIGINT) END) - 2,
             (CASE WHEN s.d + 1 - i >= 2 THEN s.hd[i]
                   ELSE CAST(-2 * i AS BIGINT) END) - 2)
           ELSE CAST(NULL AS BIGINT) END) AS hd2,
         s.hd AS hm12, s.a, s.b, s.m, s.n
  FROM st s WHERE s.d < s.m + s.n
), score AS (
  SELECT hd[m] AS sc FROM st WHERE d = m + n
)
SELECT CAST(s.d AS INTEGER) AS diagonal,
       CAST(list_aggregate(s.hd, 'max') AS BIGINT) AS wave_max,
       CAST(s.m AS INTEGER) AS len_a, CAST(s.n AS INTEGER) AS len_b,
       CAST((SELECT sc FROM score) AS BIGINT) AS nw_score
FROM st s WHERE s.d >= 2
"""


@register("text_needleman_wunsch", _NW_SQL)
def text_needleman_wunsch(spark, sf_dir):
    """Needleman-Wunsch GLOBAL alignment between the same two pinned
    120-char document prefixes the Smith-Waterman row aligns locally
    (match +2 / mismatch -1 / gap -2) — the end-to-end cousin: no
    zero-clamp, affine boundary rows H[0][j] = -2j / H[i][0] = -2i
    folded into the recurrence's edge cases instead of a stored
    border. Same anti-diagonal wavefront as Smith-Waterman (two
    carried diagonals, no intra-step dependence), with out-of-range
    cells as NULLs so each wavefront's max comes from one
    null-skipping list aggregate — the whole wavefront-max trajectory
    is emitted (a wrong cell anywhere shifts some diagonal's max) with
    the exact global score H[m][n] beside it. All integer arithmetic;
    the global score is by construction <= the Smith-Waterman local
    score on the same pair. Engine: bounded driver DP over the two
    pinned prefixes; oracle: the identical wavefront as a two-diagonal
    list recursion."""
    import re as _re
    docs = (_t(spark, sf_dir, "documents").orderBy("doc_id").limit(2)
            .select("text").collect())
    a = _re.sub(r"[^a-z ]", "", docs[0]["text"][:120].lower())
    b = _re.sub(r"[^a-z ]", "", docs[1]["text"][:120].lower())
    m, n = len(a), len(b)
    H = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(m + 1):
        H[i][0] = -2 * i
    for j in range(n + 1):
        H[0][j] = -2 * j
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            sub = 2 if a[i - 1] == b[j - 1] else -1
            H[i][j] = max(H[i - 1][j - 1] + sub,
                          H[i - 1][j] - 2, H[i][j - 1] - 2)
    score = H[m][n]
    out = []
    for d in range(2, m + n + 1):
        vals = [H[i][d - i] for i in range(1, m + 1)
                if 1 <= d - i <= n]
        out.append((d, max(vals) if vals else None, m, n, score))
    return spark.createDataFrame(
        out, "diagonal int, wave_max long, len_a int, len_b int,"
             " nw_score long")


_RBO_SQL = """
WITH RECURSIVE u AS (
  SELECT user_id,
         CAST(count(*) FILTER (WHERE event_type = 'click')
              AS BIGINT) AS clicks,
         CAST(count(*) FILTER (WHERE event_type = 'purchase')
              AS BIGINT) AS buys
  FROM events GROUP BY user_id
), ra AS (
  SELECT user_id, CAST(row_number()
      OVER (ORDER BY clicks DESC, user_id) AS BIGINT) AS r
  FROM u
), rb AS (
  SELECT user_id, CAST(row_number()
      OVER (ORDER BY buys DESC, user_id) AS BIGINT) AS r
  FROM u
), kk AS (SELECT least(20, CAST(count(*) AS BIGINT)) AS k FROM u),
jo AS (
  SELECT greatest(ra.r, rb.r) AS entry
  FROM ra JOIN rb ON ra.user_id = rb.user_id, kk
  WHERE ra.r <= kk.k AND rb.r <= kk.k
), pw AS (
  SELECT CAST(1 AS BIGINT) AS d, CAST(1 AS HUGEINT) AS p9,
         CAST('10000000000000000000' AS HUGEINT) AS p10
  UNION ALL
  SELECT d + 1, p9 * 9, p10 // 10 FROM pw WHERE d < 20
), ov AS (
  SELECT pw.d, pw.p9, pw.p10,
         CAST((SELECT count(*) FROM jo WHERE jo.entry <= pw.d)
              AS HUGEINT) AS o
  FROM pw, kk WHERE pw.d <= kk.k
), terms AS (
  SELECT d, o, p9 * o * p10 * (232792560 // d) AS t
  FROM ov
)
SELECT CAST(t2.d AS BIGINT) AS depth, CAST(t2.o AS BIGINT) AS overlap,
       CAST(t2.o * 1000000 // t2.d AS BIGINT) AS agreement_e6,
       CAST(sum(t2.t) OVER (ORDER BY t2.d) * 1000000000
            // (CAST('100000000000000000000' AS HUGEINT) * 232792560)
            AS BIGINT) AS rbo_partial_e9
FROM terms t2
"""


@register("search_rbo_rankings", _RBO_SQL)
def search_rbo_rankings(spark, sf_dir):
    """Rank-biased overlap (Webber-Moffat-Zobel 2010, p = 0.9) between
    two top-20 rankings of the SAME user population — by click volume
    and by purchase volume (deterministic (count desc, user_id)
    tiebreaks) — the top-weighted ranking-similarity measure used to
    compare retrieval runs, computed as EXACT rationals: p^(d-1)/10 =
    9^(d-1)/10^d, every prefix-overlap term put over the common
    denominator 10^20 * lcm(1..20), so the e9-floored RBO prefix sums
    carry no float anywhere (geometric weights via one carried-power
    recursion, overlap-at-depth via each user's greatest(rank_a,
    rank_b) entry depth — no per-depth set intersection). The full
    depth trajectory is emitted: overlap count, e6 agreement ratio,
    cumulative RBO. Engine: two row_number windows + driver-side exact
    big-integer fold over <=20 depths; oracle: identical rationals
    with HUGEINT powers."""
    u = (_t(spark, sf_dir, "events").groupBy("user_id")
         .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                    .otherwise(0)).alias("clicks"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("buys")))
    ra = u.select(
        "user_id",
        F.row_number().over(
            Window.orderBy(F.col("clicks").desc(), "user_id"))
        .alias("r_a"))
    rb = u.select(
        "user_id",
        F.row_number().over(
            Window.orderBy(F.col("buys").desc(), "user_id"))
        .alias("r_b"))
    pairs = [(int(r["r_a"]), int(r["r_b"])) for r in
             ra.join(rb, "user_id").collect()]
    k = min(20, len(pairs))
    entries = sorted(max(a, b) for a, b in pairs
                     if a <= k and b <= k)
    lcm = 232792560
    denom = 10 ** 20 * lcm
    out, cum = [], 0
    for d in range(1, k + 1):
        o = sum(1 for e in entries if e <= d)
        cum += 9 ** (d - 1) * o * 10 ** (20 - d) * (lcm // d)
        out.append((d, o, o * 1000000 // d,
                    cum * 1000000000 // denom))
    return spark.createDataFrame(
        out, "depth long, overlap long, agreement_e6 long,"
             " rbo_partial_e9 long")


_HDRHIST_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
), gaps AS (
  SELECT us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS v
  FROM e
  QUALIFY v IS NOT NULL
), idx AS (
  SELECT v, greatest(length(bin(v)) - 6, 0) AS b,
         greatest(length(bin(v)) - 6, 0) * 32
           + (v >> greatest(length(bin(v)) - 6, 0)) AS i
  FROM gaps
), hist AS (
  SELECT i, CAST(count(*) AS BIGINT) AS c FROM idx GROUP BY i
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gaps),
cum AS (
  SELECT i, c, sum(c) OVER (ORDER BY i) AS cm FROM hist
), probes AS (
  SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pct
), tgt AS (
  SELECT pct, (tot.n * pct + 99) // 100 AS r, tot.n FROM probes, tot
), pick AS (
  SELECT t.pct, t.r, t.n,
         (SELECT min(i) FROM cum WHERE cm >= t.r) AS si
  FROM tgt t
), est AS (
  SELECT pct, r, n, si,
         CASE WHEN si < 64 THEN si
              ELSE (si % 32 + 32) << (si // 32 - 1) END AS lb,
         CASE WHEN si < 64 THEN si
              ELSE ((si % 32 + 32) << (si // 32 - 1))
                   + ((((si % 32 + 33) << (si // 32 - 1)) - 1
                       - ((si % 32 + 32) << (si // 32 - 1))) // 2)
              END AS mid
  FROM pick
), ex AS (
  SELECT e2.pct, e2.r, e2.n, e2.si, e2.lb, e2.mid,
         (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn
                         FROM idx) q WHERE q.rn = e2.r) AS exact_v
  FROM est e2
)
SELECT pct, n, r AS target_rank, CAST(si AS BIGINT) AS sketch_index,
       CAST(lb AS BIGINT) AS bucket_lb_us,
       CAST(mid AS BIGINT) AS sketch_mid_us,
       CAST(exact_v AS BIGINT) AS exact_us,
       CAST(abs(mid - exact_v) AS BIGINT) AS abs_err_us,
       CAST(abs(mid - exact_v) * 1000000 // exact_v AS BIGINT)
           AS rel_err_e6,
       abs(mid - exact_v) * 1000000 // exact_v <= 15625
           AS within_bound
FROM ex
"""


@register("sketch_hdr_latency_quantiles", _HDRHIST_SQL)
def sketch_hdr_latency_quantiles(spark, sf_dir):
    """HdrHistogram-style log-linear quantile sketch over per-user
    inter-event gaps (the production latency-histogram layout: 6
    significant bits, bucket index b*32 + (v >> b) with b =
    max(bitlen(v)-6, 0) — EXACT integer bit arithmetic via length of
    the binary rendering, no logs, so both engines bucket identically
    at every boundary), probed at p50/p90/p99 with ceil-rank targets
    and AUDITED against the exact rank-order quantile of the raw gaps:
    each row carries the sketch's bucket-midpoint estimate, the exact
    value, the e6 relative error, and the a-priori guarantee
    rel_err <= 1/64 (15625e-6) PINNED TRUE — the measured proof that
    the fixed-size sketch answers quantile queries within its design
    bound while only ever shuffling O(buckets) rows. Plan: one
    user-partitioned lag window, map-side bucket math, one O(buckets)
    aggregate; the exact audit quantile is the only O(n log n)
    component and exists solely as the in-result oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us")
    gaps = (e.select((F.col("us") - F.lag("us").over(w)).alias("v"))
            .filter(F.col("v").isNotNull()))
    idx = gaps.select(
        "v",
        F.expr("greatest(length(bin(v)) - 6, 0) * 32"
               " + shiftright(v, greatest(length(bin(v)) - 6, 0))")
        .alias("i"))
    hist = idx.groupBy("i").agg(F.count("*").cast("long").alias("c"))
    n = gaps.count()
    cum = hist.select(
        "i", "c", F.sum("c").over(Window.orderBy("i")).alias("cm"))
    ranked = idx.select(
        "v", F.row_number().over(Window.orderBy("v")).alias("rn"))
    out = []
    for pct in (50, 90, 99):
        r = (n * pct + 99) // 100
        si = int(cum.filter(F.col("cm") >= r)
                 .agg(F.min("i")).collect()[0][0])
        if si < 64:
            lb = mid = si
        else:
            b = si // 32 - 1
            s = si % 32 + 32
            lb = s << b
            ub = ((s + 1) << b) - 1
            mid = lb + (ub - lb) // 2
        exact = int(ranked.filter(F.col("rn") == r)
                    .collect()[0]["v"])
        rel = abs(mid - exact) * 1000000 // exact
        out.append((pct, n, r, si, lb, mid, exact,
                    abs(mid - exact), rel, rel <= 15625))
    return spark.createDataFrame(
        out, "pct long, n long, target_rank long, sketch_index long,"
             " bucket_lb_us long, sketch_mid_us long, exact_us long,"
             " abs_err_us long, rel_err_e6 long, within_bound boolean")


_SPAN_CORRUPT_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS words
  FROM documents
), t0 AS (
  SELECT doc_id, words,
         unnest(range(1, len(words) + 1)) AS ii
  FROM w
), t AS (
  SELECT doc_id, CAST(ii - 1 AS BIGINT) AS i,
         words[CAST(ii AS INTEGER)] AS w
  FROM t0
), s AS (
  SELECT doc_id, i, w,
         CAST(CAST(concat('0x', substr(md5(concat('span:42:',
              CAST(doc_id AS VARCHAR), ':', CAST(i AS VARCHAR))),
              1, 16)) AS UBIGINT) % 20 = 0 AS INTEGER) AS st
  FROM t
), m1 AS (
  SELECT *, greatest(st,
           coalesce(lag(st, 1) OVER (PARTITION BY doc_id ORDER BY i),
                    0),
           coalesce(lag(st, 2) OVER (PARTITION BY doc_id ORDER BY i),
                    0)) AS masked
  FROM s
), m2 AS (
  SELECT *, CASE WHEN masked = 1 AND coalesce(
           lag(masked) OVER (PARTITION BY doc_id ORDER BY i), 0) = 0
         THEN 1 ELSE 0 END AS run_start
  FROM m1
), m3 AS (
  SELECT *, sum(run_start) OVER (PARTITION BY doc_id ORDER BY i) - 1
             AS sid
  FROM m2
), pieces AS (
  SELECT doc_id, i, masked, run_start,
         CASE WHEN masked = 0 THEN w
              WHEN run_start = 1
              THEN '<extra_id_' || CAST(sid AS VARCHAR) || '>'
         END AS cpiece,
         CASE WHEN masked = 1 THEN
           (CASE WHEN run_start = 1
            THEN '<extra_id_' || CAST(sid AS VARCHAR) || '> '
            ELSE '' END) || w
         END AS tpiece
  FROM m3
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(masked) AS BIGINT) AS n_masked,
       CAST(sum(run_start) AS BIGINT) AS n_spans,
       md5(coalesce(string_agg(cpiece, ' ' ORDER BY i), ''))
           AS corrupted_md5,
       md5(coalesce(string_agg(tpiece, ' ' ORDER BY i), ''))
           AS target_md5,
       CAST(sum(masked) * 1000000 // count(*) AS BIGINT)
           AS noise_ratio_e6
FROM pieces GROUP BY doc_id
"""


@register("data_span_corruption", _SPAN_CORRUPT_SQL)
def data_span_corruption(spark, sf_dir):
    """T5-style span-corruption pair generation over the document
    corpus — the denoising-objective data prep (Raffel et al. 2020):
    ~15% of words masked in mean-length-3 spans, every span replaced
    by one <extra_id_k> sentinel in the corrupted input while the
    target lists each sentinel followed by the words it hides. Span
    placement is pure per-position hash arithmetic (a position STARTS
    a span iff its decorrelated md5 bucket % 20 == 0; a word is masked
    iff any of positions i, i-1, i-2 starts — two lag windows, no
    sequential pass, no RNG state, stable under retries exactly like
    hash_split), sentinel numbering is one running sum over run
    starts, and both rendered sides are md5-pinned per document with
    the realized noise ratio. Plan: explode + three narrow windows per
    doc partition + one grouped aggregate — the 10^9-document shape."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.filter(F.split(F.lower(F.trim("text")), r"\s+"),
                 lambda x: x != "").alias("words"))
    t = words.select(
        "doc_id", F.posexplode("words").alias("i0", "w")).select(
        "doc_id", F.col("i0").cast("long").alias("i"), "w")
    st = (F.conv(F.substring(F.md5(F.concat_ws(
        "", F.lit("span:42:"), F.col("doc_id").cast("string"),
        F.lit(":"), F.col("i").cast("string"))), 1, 16), 16, 10)
        .cast("decimal(20,0)") % 20 == 0).cast("int")
    s = t.withColumn("st", st)
    wd = Window.partitionBy("doc_id").orderBy("i")
    m1 = s.withColumn(
        "masked", F.greatest(
            "st", F.coalesce(F.lag("st", 1).over(wd), F.lit(0)),
            F.coalesce(F.lag("st", 2).over(wd), F.lit(0))))
    m2 = m1.withColumn(
        "run_start",
        F.when((F.col("masked") == 1)
               & (F.coalesce(F.lag("masked").over(wd), F.lit(0)) == 0),
               1).otherwise(0))
    m3 = m2.withColumn("sid", F.sum("run_start").over(wd) - 1)
    cpiece = (F.when(F.col("masked") == 0, F.col("w"))
              .when(F.col("run_start") == 1,
                    F.concat(F.lit("<extra_id_"),
                             F.col("sid").cast("string"), F.lit(">"))))
    tpiece = F.when(
        F.col("masked") == 1,
        F.concat(F.when(F.col("run_start") == 1,
                        F.concat(F.lit("<extra_id_"),
                                 F.col("sid").cast("string"),
                                 F.lit("> "))).otherwise(F.lit("")),
                 F.col("w")))
    pieces = m3.withColumn("cpiece", cpiece).withColumn("tpiece",
                                                        tpiece)

    def _agg_md5(col):
        return F.md5(F.concat_ws(" ", F.filter(
            F.array_sort(F.collect_list(F.struct("i", col)))
            .getField(col), lambda x: x.isNotNull())))

    return (pieces.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("masked").cast("long").alias("n_masked"),
                 F.sum("run_start").cast("long").alias("n_spans"),
                 _agg_md5("cpiece").alias("corrupted_md5"),
                 _agg_md5("tpiece").alias("target_md5"),
                 F.expr("CAST(sum(masked) * 1000000 div count(*)"
                        " AS BIGINT)").alias("noise_ratio_e6")))


_PREF_PAIRS_SQL = """
WITH turns AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_id,
         CAST(row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                 ORDER BY ts, event_id) - 1 AS BIGINT)
             AS turn_idx,
         event_type || ':' || event_id AS text,
         CAST(round(value * 100) AS BIGINT) AS score_e2
  FROM events
), cand AS (
  SELECT * FROM turns WHERE turn_idx % 2 = 1
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, day
                            ORDER BY score_e2 DESC, event_id) AS rbest,
         row_number() OVER (PARTITION BY user_id, day
                            ORDER BY score_e2 ASC, event_id) AS rworst,
         count(*) OVER (PARTITION BY user_id, day) AS n_cand
  FROM cand
), pairs AS (
  SELECT b.user_id, b.day, CAST(b.n_cand AS BIGINT) AS n_candidates,
         b.event_id AS chosen_event_id,
         w.event_id AS rejected_event_id,
         b.score_e2 AS chosen_score_e2,
         w.score_e2 AS rejected_score_e2,
         b.score_e2 - w.score_e2 AS margin_e2,
         md5(b.text || '>' || w.text) AS pair_md5
  FROM ranked b JOIN ranked w
    ON b.user_id = w.user_id AND b.day = w.day
  WHERE b.rbest = 1 AND w.rworst = 1 AND b.n_cand >= 2
    AND b.score_e2 > w.score_e2
)
SELECT * FROM pairs ORDER BY user_id, day LIMIT 300
"""


@register("data_preference_pairs", _PREF_PAIRS_SQL)
def data_preference_pairs(spark, sf_dir):
    """Preference-pair formation for reward-model / DPO training over
    the same data-derived conversations the chat-render row templates
    (user-day = conversation, odd turns = assistant candidates): per
    conversation the highest- and lowest-scored candidate responses
    (value as the e2-integer reward, deterministic event_id tiebreak)
    become the chosen/rejected pair, conversations with fewer than two
    candidates or a zero margin are dropped (no preference signal),
    and each pair carries its margin and an md5 of the ordered
    chosen>rejected texts. Two rank windows + one self-join per
    conversation key — no collect, the 10^9-conversation shape; first
    300 conversations keep the gate bounded."""
    e = _t(spark, sf_dir, "events")
    wturn = Window.partitionBy("user_id", "day").orderBy("ts",
                                                         "event_id")
    turns = (e.withColumn("day", F.to_date("ts"))
             .select("user_id", "day", "event_id",
                     (F.row_number().over(wturn) - 1).cast("long")
                     .alias("turn_idx"),
                     F.concat("event_type", F.lit(":"),
                              F.col("event_id")).alias("text"),
                     F.round(F.col("value") * 100).cast("long")
                     .alias("score_e2")))
    cand = turns.filter(F.col("turn_idx") % 2 == 1)
    wp = Window.partitionBy("user_id", "day")
    ranked = (cand
              .withColumn("rbest", F.row_number().over(
                  wp.orderBy(F.col("score_e2").desc(), "event_id")))
              .withColumn("rworst", F.row_number().over(
                  wp.orderBy(F.col("score_e2").asc(), "event_id")))
              .withColumn("n_cand", F.count(F.lit(1)).over(wp)))
    b = ranked.filter(F.col("rbest") == 1).alias("b")
    w = ranked.filter(F.col("rworst") == 1).alias("w")
    pairs = (b.join(w, ["user_id", "day"])
             .filter((F.col("b.n_cand") >= 2)
                     & (F.col("b.score_e2") > F.col("w.score_e2")))
             .select("user_id", "day",
                     F.col("b.n_cand").cast("long")
                     .alias("n_candidates"),
                     F.col("b.event_id").alias("chosen_event_id"),
                     F.col("w.event_id").alias("rejected_event_id"),
                     F.col("b.score_e2").alias("chosen_score_e2"),
                     F.col("w.score_e2").alias("rejected_score_e2"),
                     (F.col("b.score_e2") - F.col("w.score_e2"))
                     .alias("margin_e2"),
                     F.md5(F.concat(F.col("b.text"), F.lit(">"),
                                    F.col("w.text")))
                     .alias("pair_md5")))
    return pairs.orderBy("user_id", "day").limit(300)


_CPM_SQL_TPL = """
WITH RECURSIVE pos AS (
  SELECT doc_id, term,
         list_position(string_split(text, ' '), term) AS fp
  FROM documents, {lex}
  WHERE list_position(string_split(text, ' '), term) > 0
),
cnt AS (
  SELECT a.term AS src, b.term AS dst, count(*) AS w
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND a.fp < b.fp
  GROUP BY 1, 2
),
de AS (
  SELECT c1.src, c1.dst
  FROM cnt c1 JOIN cnt c2 ON c1.src = c2.dst AND c1.dst = c2.src
  WHERE c1.w >= c2.w + 12
),
verts AS (SELECT DISTINCT src AS v FROM de
          UNION SELECT DISTINCT dst FROM de),
reach(a, b) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN de e ON r.b = e.src
),
scc AS (
  SELECT r1.a AS term, min(r1.b) AS scc_id
  FROM reach r1
  WHERE EXISTS (SELECT 1 FROM reach r2
                WHERE r2.a = r1.b AND r2.b = r1.a)
  GROUP BY r1.a
),
ce AS (
  SELECT DISTINCT s1.scc_id AS src, s2.scc_id AS dst
  FROM de JOIN scc s1 ON s1.term = de.src
  JOIN scc s2 ON s2.term = de.dst
  WHERE s1.scc_id <> s2.scc_id
),
durs AS (
  SELECT scc_id, CAST(count(*) AS BIGINT) AS dur
  FROM scc GROUP BY 1
),
fpaths(v, l) AS (
  SELECT scc_id, dur FROM durs
  UNION
  SELECT ce.dst, fpaths.l + d.dur
  FROM fpaths JOIN ce ON ce.src = fpaths.v
  JOIN durs d ON d.scc_id = ce.dst
),
ef AS (SELECT v AS scc_id, max(l) AS ef FROM fpaths GROUP BY v),
bpaths(v, l) AS (
  SELECT scc_id, dur FROM durs
  UNION
  SELECT ce.src, bpaths.l + d.dur
  FROM bpaths JOIN ce ON ce.dst = bpaths.v
  JOIN durs d ON d.scc_id = ce.src
),
tl AS (SELECT v AS scc_id, max(l) AS tail FROM bpaths GROUP BY v),
proj AS (SELECT max(ef) AS makespan FROM ef)
SELECT d.scc_id, d.dur AS duration,
       e.ef - d.dur AS es, e.ef AS ef,
       p.makespan - t.tail AS ls,
       p.makespan - t.tail + d.dur AS lf,
       (p.makespan - t.tail) - (e.ef - d.dur) AS slack,
       (p.makespan - t.tail) - (e.ef - d.dur) = 0 AS critical,
       p.makespan
FROM durs d JOIN ef e ON e.scc_id = d.scc_id
JOIN tl t ON t.scc_id = d.scc_id, proj p
"""


@register("kg_critical_path_docs",
          _CPM_SQL_TPL.format(lex=kg_docs.lexicon_values_sql()))
def kg_critical_path_docs(spark, sf_dir):
    """Critical-path method (CPM) over the mention-order graph's
    condensation DAG with SCC sizes as activity durations: forward
    pass (earliest start/finish = longest weighted incoming path),
    backward pass (latest start/finish = makespan minus longest
    weighted outgoing path), slack, and the critical flag — slack-0
    super-nodes are exactly those on some maximum-duration chain, the
    concept clusters that bound any staged traversal of the KG. The
    scheduling extension of kg_condensation_layers_docs (which stops
    at unweighted depth): both relaxations are DAG path enumerations,
    so a wrong SCC contraction or a missed edge shifts some node's
    slack and flips the hash. Engine: exact memoized DP over the
    collected vocabulary-bounded condensation (the Viterbi
    discipline); oracle: forward and backward recursive path
    enumerations over first-principles SQL SCCs."""
    import sys
    from .operators.graph_algos import strongly_connected_components
    de = _mention_order_edges(spark, sf_dir)
    scc = strongly_connected_components(de, src="src", dst="dst")
    rows = scc.collect()
    comp = {r["node"]: r["scc_id"] for r in rows}
    dur = {}
    for r in rows:
        dur[r["scc_id"]] = dur.get(r["scc_id"], 0) + 1
    edges = {(comp[r["src"]], comp[r["dst"]])
             for r in de.collect()
             if comp[r["src"]] != comp[r["dst"]]}
    succs, preds = {}, {}
    for s, d in edges:
        succs.setdefault(s, set()).add(d)
        preds.setdefault(d, set()).add(s)
    sys.setrecursionlimit(10000)
    ef_memo, tail_memo = {}, {}

    def ef(v):
        if v not in ef_memo:
            ef_memo[v] = dur[v] + max((ef(p) for p in
                                       preds.get(v, ())), default=0)
        return ef_memo[v]

    def tail(v):
        if v not in tail_memo:
            tail_memo[v] = dur[v] + max((tail(s) for s in
                                         succs.get(v, ())), default=0)
        return tail_memo[v]

    makespan = max(ef(v) for v in dur)
    out = []
    for v in sorted(dur):
        es, e_f = ef(v) - dur[v], ef(v)
        ls = makespan - tail(v)
        out.append((v, dur[v], es, e_f, ls, ls + dur[v], ls - es,
                    ls - es == 0, makespan))
    return spark.createDataFrame(
        out, "scc_id string, duration long, es long, ef long,"
             " ls long, lf long, slack long, critical boolean,"
             " makespan long")


_KNN_LOOCV_SQL = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v
  FROM embeddings ORDER BY vec_id LIMIT 200
), d AS (
  SELECT a.vec_id AS qa, b.vec_id AS qb, b.label AS blabel,
         CAST(floor(list_sum(list_transform(range(1, len(a.v) + 1),
           j -> (a.v[CAST(j AS INTEGER)] - b.v[CAST(j AS INTEGER)])
              * (a.v[CAST(j AS INTEGER)] - b.v[CAST(j AS INTEGER)])))
           * 1000000) AS BIGINT) AS d2_e6
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
), nn AS (
  SELECT qa, blabel FROM (
    SELECT qa, blabel,
           row_number() OVER (PARTITION BY qa
                              ORDER BY d2_e6, qb) AS rn
    FROM d) q WHERE rn <= 5
), votes AS (
  SELECT qa, blabel AS pred, count(*) AS c
  FROM nn GROUP BY qa, blabel
), pick AS (
  SELECT qa, pred FROM (
    SELECT qa, pred, row_number() OVER (PARTITION BY qa
                                        ORDER BY c DESC, pred) AS rp
    FROM votes) q WHERE rp = 1
), res AS (
  SELECT e.vec_id, e.label, p.pred, e.label = p.pred AS correct
  FROM e JOIN pick p ON p.qa = e.vec_id
)
SELECT vec_id, label, pred AS pred_label, correct,
       CAST((SELECT count(*) FILTER (WHERE correct) FROM res)
            * 1000000 // (SELECT count(*) FROM res) AS BIGINT)
           AS accuracy_e6
FROM res
"""


@register("ann_knn_loocv", _KNN_LOOCV_SQL)
def ann_knn_loocv(spark, sf_dir):
    """Leave-one-out 5-NN classification audit over the first 200
    labeled embeddings — the standard sanity measurement run before
    trusting an embedding space for retrieval: each vector is
    classified by majority vote of its 5 nearest OTHER vectors
    (squared-euclidean distances as exact doubles floored ONCE to e6
    for ordering — the Held-Karp discipline — with (distance, vec_id)
    and (votes desc, label asc) deterministic tiebreaks) and every
    per-vector verdict is emitted beside the corpus-level LOOCV
    accuracy. The classifier-quality complement of the silhouette and
    label-separation rows. Plan: one bounded self-join (the audit
    set), two rank windows, one vote aggregate — at production scale
    the same vote runs over ann_*_topk candidates instead of the
    exhaustive join."""
    e = (_t(spark, sf_dir, "embeddings").orderBy("vec_id").limit(200)
         .select("vec_id", "label",
                 F.col("embedding").cast("array<double>").alias("v")))
    a, b = e.alias("a"), e.alias("b")
    d2 = F.expr("CAST(floor(aggregate(zip_with(a.v, b.v,"
                " (x, y) -> (x-y)*(x-y)), CAST(0.0 AS DOUBLE),"
                " (acc, x) -> acc + x) * 1000000) AS BIGINT)")
    d = (a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
         .select(F.col("a.vec_id").alias("qa"),
                 F.col("b.vec_id").alias("qb"),
                 F.col("b.label").alias("blabel"),
                 d2.alias("d2_e6")))
    nn = (d.withColumn("rn", F.row_number().over(
        Window.partitionBy("qa").orderBy("d2_e6", "qb")))
        .filter(F.col("rn") <= 5))
    votes = nn.groupBy("qa", F.col("blabel").alias("pred")) \
        .agg(F.count("*").alias("c"))
    pick = (votes.withColumn("rp", F.row_number().over(
        Window.partitionBy("qa")
        .orderBy(F.col("c").desc(), "pred")))
        .filter(F.col("rp") == 1).select("qa", "pred"))
    res = (e.join(pick, e["vec_id"] == pick["qa"])
           .select("vec_id", "label", "pred",
                   (F.col("label") == F.col("pred")).alias("correct")))
    acc = res.agg(
        (F.sum(F.col("correct").cast("long")) * 1000000
         / F.count("*")).cast("long").alias("accuracy_e6"))
    return (res.crossJoin(F.broadcast(acc))
            .select("vec_id", "label",
                    F.col("pred").alias("pred_label"), "correct",
                    "accuracy_e6"))


_B85_CS = ("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
           "abcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~")

_B85_SQL = """
WITH base AS (
  SELECT doc_id,
         regexp_replace(substr(text, 1, 200), '[^ -~]', '', 'g') AS s
  FROM documents ORDER BY doc_id LIMIT 100
), b4 AS (
  SELECT doc_id, substr(s, 1, len(s) - len(s) % 4) AS s4 FROM base
), g0 AS (
  SELECT doc_id, s4, unnest(range(0, len(s4) // 4)) AS g FROM b4
), grp AS (
  SELECT doc_id, g,
         substr(s4, CAST(g * 4 + 1 AS INTEGER), 4) AS chunk
  FROM g0
), vals AS (
  SELECT doc_id, g, chunk,
         ord(substr(chunk, 1, 1)) * 16777216
       + ord(substr(chunk, 2, 1)) * 65536
       + ord(substr(chunk, 3, 1)) * 256
       + ord(substr(chunk, 4, 1)) AS val
  FROM grp
), enc AS (
  SELECT doc_id, g, chunk,
         substr('{cs}', CAST(val // 52200625 % 85 + 1 AS INTEGER), 1)
      || substr('{cs}', CAST(val // 614125 % 85 + 1 AS INTEGER), 1)
      || substr('{cs}', CAST(val // 7225 % 85 + 1 AS INTEGER), 1)
      || substr('{cs}', CAST(val // 85 % 85 + 1 AS INTEGER), 1)
      || substr('{cs}', CAST(val % 85 + 1 AS INTEGER), 1) AS e5
  FROM vals
), dec AS (
  SELECT doc_id, g, chunk, e5,
         (strpos('{cs}', substr(e5, 1, 1)) - 1) * 52200625
       + (strpos('{cs}', substr(e5, 2, 1)) - 1) * 614125
       + (strpos('{cs}', substr(e5, 3, 1)) - 1) * 7225
       + (strpos('{cs}', substr(e5, 4, 1)) - 1) * 85
       + (strpos('{cs}', substr(e5, 5, 1)) - 1) AS val2
  FROM enc
), rec AS (
  SELECT doc_id, g, e5,
         chr(CAST(val2 // 16777216 % 256 AS INTEGER))
      || chr(CAST(val2 // 65536 % 256 AS INTEGER))
      || chr(CAST(val2 // 256 % 256 AS INTEGER))
      || chr(CAST(val2 % 256 AS INTEGER)) AS r4
  FROM dec
), agg AS (
  SELECT doc_id,
         coalesce(string_agg(e5, '' ORDER BY g), '') AS encoded,
         coalesce(string_agg(r4, '' ORDER BY g), '') AS recon
  FROM rec GROUP BY doc_id
)
SELECT b.doc_id, CAST(len(b.s4) AS BIGINT) AS n_bytes,
       CAST(len(coalesce(a.encoded, '')) AS BIGINT) AS enc_len,
       md5(coalesce(a.encoded, '')) AS encoded_md5,
       coalesce(a.recon, '') = b.s4 AS roundtrip_ok,
       CASE WHEN len(b.s4) > 0
            THEN CAST(len(coalesce(a.encoded, '')) * 1000000
                      // len(b.s4) AS BIGINT) END AS expansion_e6
FROM b4 b LEFT JOIN agg a ON a.doc_id = b.doc_id
""".replace("{cs}", _B85_CS)


@register("text_base85_codec", _B85_SQL)
def text_base85_codec(spark, sf_dir):
    """Base85 codec IN-ENGINE over the printable-ASCII document
    prefixes (the git-binary-patch / RFC 1924 charset stdlib's
    b85encode uses, golden-pinned against it in tests): each 4-byte
    group becomes one base-85 number rendered as 5 charset digits —
    pure positional arithmetic, no bit twiddling, no UDF — and the
    DECODE path re-derives every byte from the encoded characters via
    charset position lookup, with round-trip equality to the original
    PINNED per document beside the 5/4 expansion ratio. Both engines
    run the identical integer expressions (ord/chr/strpos only), so a
    single off-by-one in any power of 85 or 256 flips the hash.
    Prefixes are truncated to whole 4-byte groups (the padding-free
    core of the codec; stdlib parity under the same truncation is the
    test's job). Plan: one group explode + one ordered aggregate per
    document — map-side arithmetic, the 10^9-document shape."""
    base = (_t(spark, sf_dir, "documents").orderBy("doc_id")
            .limit(100)
            .select("doc_id",
                    F.regexp_replace(F.substring("text", 1, 200),
                                     "[^ -~]", "").alias("s")))
    b4 = base.select(
        "doc_id",
        F.expr("substring(s, 1, length(s) - length(s) % 4)")
        .alias("s4"))
    g0 = (b4.filter(F.length("s4") >= 4)
          .select("doc_id", "s4",
                  F.explode(F.sequence(
                      F.lit(0),
                      (F.length("s4") / 4).cast("int") - 1))
                  .alias("g")))
    grp = g0.select(
        "doc_id", "g",
        F.expr("substring(s4, g * 4 + 1, 4)").alias("chunk"))
    vals = grp.withColumn(
        "val",
        F.expr("ascii(substring(chunk, 1, 1)) * 16777216"
               " + ascii(substring(chunk, 2, 1)) * 65536"
               " + ascii(substring(chunk, 3, 1)) * 256"
               " + ascii(substring(chunk, 4, 1))"))
    e5 = F.concat(
        F.expr(f"substring('{_B85_CS}',"
               " CAST(val div 52200625 % 85 + 1 AS INT), 1)"),
        F.expr(f"substring('{_B85_CS}',"
               " CAST(val div 614125 % 85 + 1 AS INT), 1)"),
        F.expr(f"substring('{_B85_CS}',"
               " CAST(val div 7225 % 85 + 1 AS INT), 1)"),
        F.expr(f"substring('{_B85_CS}',"
               " CAST(val div 85 % 85 + 1 AS INT), 1)"),
        F.expr(f"substring('{_B85_CS}',"
               " CAST(val % 85 + 1 AS INT), 1)"))
    enc = vals.withColumn("e5", e5)
    val2 = F.expr(
        f"(instr('{_B85_CS}', substring(e5, 1, 1)) - 1) * 52200625"
        f" + (instr('{_B85_CS}', substring(e5, 2, 1)) - 1) * 614125"
        f" + (instr('{_B85_CS}', substring(e5, 3, 1)) - 1) * 7225"
        f" + (instr('{_B85_CS}', substring(e5, 4, 1)) - 1) * 85"
        f" + (instr('{_B85_CS}', substring(e5, 5, 1)) - 1)")
    rec = (enc.withColumn("val2", val2)
           .withColumn("r4", F.expr(
               "concat(char(val2 div 16777216 % 256),"
               " char(val2 div 65536 % 256),"
               " char(val2 div 256 % 256), char(val2 % 256))")))
    agg = (rec.groupBy("doc_id")
           .agg(F.concat_ws("", F.array_sort(F.collect_list(
                F.struct("g", "e5"))).getField("e5")).alias("encoded"),
                F.concat_ws("", F.array_sort(F.collect_list(
                    F.struct("g", "r4"))).getField("r4"))
                .alias("recon")))
    return (b4.join(agg, "doc_id", "left")
            .select("doc_id",
                    F.length("s4").cast("long").alias("n_bytes"),
                    F.length(F.coalesce("encoded", F.lit("")))
                    .cast("long").alias("enc_len"),
                    F.md5(F.coalesce("encoded", F.lit("")))
                    .alias("encoded_md5"),
                    (F.coalesce("recon", F.lit("")) == F.col("s4"))
                    .alias("roundtrip_ok"),
                    F.when(F.length("s4") > 0, F.expr(
                        "CAST(length(coalesce(encoded, '')) * 1000000"
                        " div length(s4) AS BIGINT)"))
                    .alias("expansion_e6")))


_URLCANON_SQL = """
WITH base AS (
  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300
), raw AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'http' END)
    || '://'
    || (CASE WHEN doc_id % 2 = 0
        THEN 'Example-' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
        ELSE 'example-' || CAST(doc_id % 7 AS VARCHAR) || '.com' END)
    || (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END)
    || (CASE doc_id % 5 WHEN 0 THEN '/a/b/../c'
        WHEN 1 THEN '/a/./c' WHEN 2 THEN '/a/c'
        WHEN 3 THEN '/x/y/../../a/c' ELSE '/d/c' END)
    || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1'
        ELSE '?a=1&b=2' END)
    || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)
        AS raw_url,
    'http://example-' || CAST(doc_id % 7 AS VARCHAR) || '.com'
    || (CASE WHEN doc_id % 5 = 4 THEN '/d/c' ELSE '/a/c' END)
    || '?a=1&b=2' AS canonical_url
  FROM base
), sized AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY canonical_url)
                 AS BIGINT) AS cluster_size
  FROM raw
)
SELECT doc_id, raw_url, canonical_url, cluster_size,
       cluster_size > 1 AS is_dup
FROM sized
"""


@register("data_url_canonicalize", _URLCANON_SQL)
def data_url_canonicalize(spark, sf_dir):
    """URL canonicalization — the FIRST dedup primitive of a web
    pipeline, running before any content hash: 300 deterministic raw
    URLs (synthesized from doc ids with uppercase schemes/hosts,
    default :80 ports, `.`/`..` dot segments, permuted query params
    and fragments) are collapsed by the GENERIC canonicalizer in
    functions/urltools.py — scheme/host lowercasing, default-port
    strip, RFC 3986 dot-segment removal, bytewise query sort,
    fragment drop — as an Arrow-batched pandas UDF (the distributed
    path of a 10^11-URL frontier), then clustered by canonical form
    with per-cluster sizes and dup flags. The oracle re-derives each
    canonical from the variant arithmetic, so a canonicalizer bug
    (a pop-at-root slip, an unsorted query) diverges and flips the
    hash. The URL-level complement of the exact/MinHash content
    dedup family."""
    from .functions.urltools import canonicalize_url_udf
    base = (_t(spark, sf_dir, "documents").orderBy("doc_id")
            .limit(300).select("doc_id"))
    d = F.col("doc_id")
    raw_url = F.concat(
        F.when(d % 3 == 0, "HTTP").otherwise("http"),
        F.lit("://"),
        F.when(d % 2 == 0,
               F.concat(F.lit("Example-"), (d % 7).cast("string"),
                        F.lit(".COM")))
        .otherwise(F.concat(F.lit("example-"),
                            (d % 7).cast("string"), F.lit(".com"))),
        F.when(d % 4 == 0, ":80").otherwise(""),
        F.when(d % 5 == 0, "/a/b/../c")
        .when(d % 5 == 1, "/a/./c").when(d % 5 == 2, "/a/c")
        .when(d % 5 == 3, "/x/y/../../a/c").otherwise("/d/c"),
        F.when(d % 2 == 0, "?b=2&a=1").otherwise("?a=1&b=2"),
        F.when(d % 6 == 0, "#frag").otherwise(""))
    r = (base.withColumn("raw_url", raw_url)
         .withColumn("canonical_url",
                     canonicalize_url_udf()(F.col("raw_url"))))
    sized = r.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(
            Window.partitionBy("canonical_url")).cast("long"))
    return sized.select("doc_id", "raw_url", "canonical_url",
                        "cluster_size",
                        (F.col("cluster_size") > 1).alias("is_dup"))


_CRAWL_SCHED_SQL = """
WITH u AS (
  SELECT CAST(user_id % 7 AS BIGINT) AS host,
         epoch_us(CAST(ts AS TIMESTAMP)) AS disc_us, event_id
  FROM (SELECT * FROM events ORDER BY ts, event_id LIMIT 2000)
), idx AS (
  SELECT host, disc_us, event_id,
         CAST(row_number() OVER (PARTITION BY host
                                 ORDER BY disc_us, event_id)
              AS BIGINT) AS i,
         (1 + host) * 1000000 AS delay_us
  FROM u
), adj AS (
  SELECT *, disc_us - delay_us * (i - 1) AS a FROM idx
), sched AS (
  SELECT host, i, disc_us, delay_us,
         delay_us * (i - 1)
           + max(a) OVER (PARTITION BY host ORDER BY i) AS fetch_us
  FROM adj
), gaps AS (
  SELECT *, fetch_us - lag(fetch_us)
             OVER (PARTITION BY host ORDER BY i) AS gap
  FROM sched
)
SELECT host, i AS idx, disc_us, fetch_us,
       fetch_us - disc_us AS wait_us,
       gap IS NULL OR gap >= delay_us AS compliant
FROM gaps
"""


@register("data_crawl_schedule", _CRAWL_SCHED_SQL)
def data_crawl_schedule(spark, sf_dir):
    """Politeness-constrained crawl scheduling over a discovered URL
    frontier (hosts = user buckets, per-host crawl delay 1+host
    seconds as a robots.txt Crawl-delay would dictate): each fetch
    fires at max(discovery, previous fetch + delay) — the
    sequential-looking Lindley-style recurrence collapsed to its
    EXACT max-plus closed form fetch_i = delay·(i-1) +
    running-max(disc_j - delay·(j-1)), one window per host partition,
    no sequential pass (the same prefix trick as the G/G/1 replay).
    Every scheduled fetch is emitted with its wait time and a
    per-fetch compliance audit (gap >= delay) that must come out
    TRUE; a wrong closed form shows up as either a violated gap or a
    needlessly late fetch. Binds the acquisition trio (robots delay,
    URL frontier) into the dispatcher a 10^11-URL crawler shards by
    host."""
    u = (_t(spark, sf_dir, "events").orderBy("ts", "event_id")
         .limit(2000)
         .select((F.col("user_id") % 7).alias("host"),
                 F.unix_micros(F.col("ts").cast("timestamp"))
                 .alias("disc_us"), "event_id"))
    wp = Window.partitionBy("host").orderBy("disc_us", "event_id")
    idx = u.select(
        "host", "disc_us",
        F.row_number().over(wp).cast("long").alias("i"),
        ((F.col("host") + 1) * 1000000).alias("delay_us"))
    adj = idx.withColumn(
        "a", F.col("disc_us") - F.col("delay_us") * (F.col("i") - 1))
    wi = Window.partitionBy("host").orderBy("i")
    sched = adj.withColumn(
        "fetch_us",
        F.col("delay_us") * (F.col("i") - 1) + F.max("a").over(wi))
    gaps = sched.withColumn(
        "gap", F.col("fetch_us") - F.lag("fetch_us").over(wi))
    return gaps.select(
        "host", F.col("i").alias("idx"), "disc_us", "fetch_us",
        (F.col("fetch_us") - F.col("disc_us")).alias("wait_us"),
        (F.col("gap").isNull()
         | (F.col("gap") >= F.col("delay_us"))).alias("compliant"))


_SUFFIX_ARRAY_SQL = """
WITH base AS (
  SELECT regexp_replace(lower(substr(text, 1, 160)), '[^a-z ]', '',
                        'g') || '$' AS s
  FROM documents ORDER BY doc_id LIMIT 1
), pos AS (
  SELECT s, CAST(unnest(range(1, len(s) + 1)) AS INTEGER) AS p
  FROM base
), suf AS (
  SELECT p, substr(s, p) AS suffix, s FROM pos
), sa AS (
  SELECT p, suffix, s,
         CAST(row_number() OVER (ORDER BY suffix) AS BIGINT) AS rk
  FROM suf
), lcp AS (
  SELECT sa.rk, sa.p, sa.s,
         lag(sa.suffix) OVER (ORDER BY sa.rk) AS prev,
         sa.suffix
  FROM sa
), lv AS (
  SELECT rk, p, s,
         CASE WHEN prev IS NULL THEN 0
         ELSE coalesce(list_min(list_transform(
             range(1, least(len(prev), len(suffix)) + 1),
             q -> CASE WHEN substr(prev, CAST(q AS INTEGER), 1)
                       != substr(suffix, CAST(q AS INTEGER), 1)
                  THEN q - 1 END)),
           least(len(prev), len(suffix))) END AS lcp
  FROM lcp
)
SELECT rk AS rank, CAST(p AS BIGINT) AS suffix_start,
       CAST(lcp AS BIGINT) AS lcp_prev,
       CAST((SELECT max(lcp) FROM lv) AS BIGINT) AS max_repeat_len,
       CAST(CAST((SELECT len(s) FROM base) AS BIGINT)
            * ((SELECT len(s) FROM base) + 1) // 2
            - (SELECT sum(lcp) FROM lv) AS BIGINT)
           AS distinct_substrings
FROM lv
"""


@register("text_suffix_array", _SUFFIX_ARRAY_SQL)
def text_suffix_array(spark, sf_dir):
    """Suffix array + LCP array of the pinned 160-char document
    prefix ('$'-terminated) — the index structure behind longest-
    repeated-substring, full-text search and the BWT rows: every
    suffix ranked lexicographically, each adjacent pair's longest
    common prefix computed by first-mismatch position (exact integer
    scan, no heuristics), with the classic identities emitted as
    cross-checks on every row — max(LCP) is the longest repeated
    substring's length, and n(n+1)/2 - sum(LCP) is the distinct-
    substring count (the same number text_distinct_substrings derives
    by an entirely different method, so the two queries audit each
    other). Engine: one rank window + one lag over the bounded pinned
    prefix; oracle: identical windows."""
    import re as _re
    doc = (_t(spark, sf_dir, "documents").orderBy("doc_id").limit(1)
           .select("text").collect())
    s = _re.sub(r"[^a-z ]", "", doc[0]["text"][:160].lower()) + "$"
    n = len(s)
    sufs = sorted((s[p - 1:], p) for p in range(1, n + 1))
    out = []
    total_lcp = 0
    lcps = []
    for rk, (suf, p) in enumerate(sufs, start=1):
        if rk == 1:
            lcp = 0
        else:
            prev = sufs[rk - 2][0]
            lcp = 0
            for a, b in zip(prev, suf):
                if a != b:
                    break
                lcp += 1
        lcps.append((rk, p, lcp))
        total_lcp += lcp
    mx = max(l for _, _, l in lcps)
    dsub = n * (n + 1) // 2 - total_lcp
    out = [(rk, p, l, mx, dsub) for rk, p, l in lcps]
    return spark.createDataFrame(
        out, "rank long, suffix_start long, lcp_prev long,"
             " max_repeat_len long, distinct_substrings long")


_SPECTRAL_SQL = """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, lex.term
  FROM documents d, {lex}
  WHERE list_contains(string_split(d.text, ' '), lex.term)
), e AS MATERIALIZED (
  SELECT a.term AS a, b.term AS b
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 330
), bd AS (SELECT a AS x, b AS y FROM e UNION SELECT b, a FROM e),
nodes AS (SELECT DISTINCT x AS term FROM bd),
comp AS (
  SELECT DISTINCT term FROM nodes
  WHERE term IN (
    WITH RECURSIVE rc(v) AS (
      SELECT min(term) FROM nodes
      UNION
      SELECT bd.y FROM rc JOIN bd ON bd.x = rc.v)
    SELECT v FROM rc)
), ty AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) AS INTEGER)
             AS ti
  FROM comp
), nn AS (
  SELECT x.ti AS i, y.ti AS j,
         CAST(CASE WHEN EXISTS (SELECT 1 FROM e
                WHERE (e.a = x.term AND e.b = y.term)
                   OR (e.a = y.term AND e.b = x.term))
              THEN 1 ELSE 0 END AS HUGEINT) AS adj
  FROM ty x, ty y
), deg AS (SELECT i, sum(adj) AS d FROM nn GROUP BY i),
consts AS (
  SELECT (SELECT list(l ORDER BY i) FROM (
            SELECT n2.i, list(CASE WHEN n2.i = n2.j
                   THEN (SELECT max(d) FROM deg) + 1 - dg.d
                   ELSE n2.adj END ORDER BY n2.j) AS l
            FROM nn n2 JOIN deg dg ON dg.i = n2.i
            GROUP BY n2.i) q) AS M,
         (SELECT CAST(count(*) AS INTEGER) FROM ty) AS k
), st AS (
  SELECT 0 AS it,
         list_transform(range(1, c.k + 1), i ->
           CAST((CAST(CAST(concat('0x', substr(md5(concat('fied:',
                CAST(i AS VARCHAR))), 1, 16)) AS UBIGINT) % 2001
                AS HUGEINT) - 1000) * 1000000 AS HUGEINT)) AS x,
         c.M AS M, c.k AS k
  FROM consts c
  UNION ALL
  SELECT s.it + 1,
         list_transform(dm.y2, v -> CASE WHEN v >= 0
           THEN v * 1000000000 // nx.mx
           ELSE -((-v) * 1000000000 // nx.mx) END),
         s.M, s.k
  FROM st s
  CROSS JOIN LATERAL (
    SELECT list_transform(range(1, s.k + 1), i ->
      list_sum(list_transform(range(1, s.k + 1),
               j -> s.M[i][j] * s.x[j]))) AS y) mv
  CROSS JOIN LATERAL (
    SELECT list_sum(mv.y) AS sy) sm
  CROSS JOIN LATERAL (
    SELECT list_transform(mv.y, v ->
      v - (CASE WHEN sm.sy >= 0 THEN sm.sy // s.k
           ELSE -((-sm.sy) // s.k) END)) AS y2) dm
  CROSS JOIN LATERAL (
    SELECT greatest(list_max(list_transform(dm.y2, v -> abs(v))),
                    1) AS mx) nx
  WHERE s.it < 25
), fin AS (SELECT x, k FROM st WHERE it = 25),
vals AS (
  SELECT ty.term, f.x[ty.ti] AS fe9, ty.ti
  FROM fin f, ty
), cut AS (
  SELECT CAST(count(*) AS BIGINT) AS cut_edges
  FROM e JOIN vals va ON va.term = e.a
  JOIN vals vb ON vb.term = e.b
  WHERE (va.fe9 >= 0) != (vb.fe9 >= 0)
), sides AS (
  SELECT CAST(sum(CASE WHEN fe9 >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
         CAST(sum(CASE WHEN fe9 < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neg
  FROM vals
)
SELECT v.term, CAST(v.fe9 AS BIGINT) AS fiedler_e9,
       v.fe9 >= 0 AS side,
       (SELECT cut_edges FROM cut) AS cut_edges,
       (SELECT n_pos FROM sides) AS n_pos,
       (SELECT n_neg FROM sides) AS n_neg
FROM vals v
""".format(lex=kg_docs.lexicon_values_sql())


@register("kg_spectral_bisection_docs", _SPECTRAL_SQL)
def kg_spectral_bisection_docs(spark, sf_dir):
    """Spectral bisection of the sparsified co-occurrence graph's
    main component — the Fiedler-vector partition behind multilevel
    graph partitioners: power iteration on the spectrum-flipped
    matrix (maxdeg+1)I - L whose dominant eigenvector is the all-ones
    nullvector of L, DEFLATED by re-centering every iterate (subtract
    the truncated mean), so the iteration converges toward the
    algebraic-connectivity eigenvector; 25 iterations entirely in
    fixed point with SIGN-EXPLICIT truncating divisions (negative
    floor-vs-truncate is exactly where engines diverge, so both sides
    spell out sign(v)*(|v|//m)), md5-seeded start vector, iterates
    renormalized to e9 by max-|component|. Each node's Fiedler
    component and sign-side are emitted with the induced cut size
    and side populations — the spectral complement of the Louvain /
    conductance rows (on the complete-graph scales the Fiedler
    eigenspace is degenerate and the PINNED deterministic iterate is
    the result, as documented). Engine: driver iteration over the
    vocabulary-bounded component; oracle: identical list recursion."""
    import hashlib as _h
    from .operators.canonicalize import connected_components
    edges = (_cooc_edges(spark, sf_dir, 330)
             .select(F.col("term_a").alias("src"),
                     F.col("term_b").alias("dst")))
    comp = (connected_components(edges, driver_threshold=0)
            .select(F.col("norm_term").alias("node"),
                    F.col("canon").alias("component")))
    root = comp.agg(F.min("node").alias("r")).collect()[0]["r"]
    rc = (comp.filter(F.col("node") == root)
          .select("component").collect()[0][0])
    main = {r["node"] for r in
            comp.filter(F.col("component") == F.lit(rc)).collect()}
    erows = sorted((r["src"], r["dst"]) for r in edges.collect()
                   if r["src"] in main and r["dst"] in main)
    terms = sorted(main)
    ti = {t: i for i, t in enumerate(terms)}
    k = len(terms)
    A = [[0] * k for _ in range(k)]
    for a, b in erows:
        A[ti[a]][ti[b]] = A[ti[b]][ti[a]] = 1
    degs = [sum(row) for row in A]
    c = max(degs) + 1
    M = [[(c - degs[i]) if i == j else A[i][j] for j in range(k)]
         for i in range(k)]

    def tdiv(a, b):
        return a // b if a >= 0 else -((-a) // b)

    x = [(int(_h.md5(f"fied:{i + 1}".encode()).hexdigest()[:16], 16)
          % 2001 - 1000) * 1000000 for i in range(k)]
    for _ in range(25):
        y = [sum(M[i][j] * x[j] for j in range(k)) for i in range(k)]
        sy = sum(y)
        y = [v - tdiv(sy, k) for v in y]
        mx = max(max(abs(v) for v in y), 1)
        x = [tdiv(v * 10 ** 9, mx) for v in y]
    cut = sum(1 for a, b in erows
              if (x[ti[a]] >= 0) != (x[ti[b]] >= 0))
    n_pos = sum(1 for v in x if v >= 0)
    out = [(t, x[ti[t]], x[ti[t]] >= 0, cut, n_pos, k - n_pos)
           for t in terms]
    return spark.createDataFrame(
        out, "term string, fiedler_e9 long, side boolean,"
             " cut_edges long, n_pos long, n_neg long")


_MYERS_SQL = """
WITH RECURSIVE ds AS (
  SELECT doc_id,
         regexp_replace(lower(substr(text, 1, 80)), '[^a-z ]', '',
                        'g') AS s
  FROM documents ORDER BY doc_id LIMIT 2
), ab AS (
  SELECT (SELECT s FROM ds ORDER BY doc_id LIMIT 1) AS a,
         (SELECT s FROM ds ORDER BY doc_id DESC LIMIT 1) AS b
), dims AS (
  SELECT a, b, CAST(length(a) AS INTEGER) AS n,
         CAST(length(b) AS INTEGER) AS m,
         CAST(length(a) + length(b) AS INTEGER) AS mx
  FROM ab
), st AS (
  SELECT -1 AS d,
         list_transform(range(1, 2 * dims.mx + 2),
                        i -> CAST(0 AS BIGINT)) AS V,
         false AS done, CAST(-1 AS BIGINT) AS reach,
         dims.a AS a, dims.b AS b, dims.n AS n, dims.m AS m,
         dims.mx AS mx
  FROM dims
  UNION ALL
  SELECT s.d + 1, nv.newV, dn.done2, dn.reach2,
         s.a, s.b, s.n, s.m, s.mx
  FROM st s
  CROSS JOIN LATERAL (SELECT s.d + 1 AS dd) t0
  CROSS JOIN LATERAL (
    SELECT list_transform(range(0, t0.dd + 1), t ->
      CAST(-t0.dd + 2 * t AS BIGINT)) AS ks) t1
  CROSS JOIN LATERAL (
    SELECT list_transform(t1.ks, k ->
      (CASE WHEN k = -t0.dd OR (k != t0.dd
             AND s.V[CAST(k - 1 + s.mx + 1 AS INTEGER)]
               < s.V[CAST(k + 1 + s.mx + 1 AS INTEGER)])
       THEN s.V[CAST(k + 1 + s.mx + 1 AS INTEGER)]
       ELSE s.V[CAST(k - 1 + s.mx + 1 AS INTEGER)] + 1 END)) AS x0
    ) t2
  CROSS JOIN LATERAL (
    SELECT list_transform(range(1, len(t1.ks) + 1), ti ->
      t2.x0[CAST(ti AS INTEGER)]
      + coalesce(list_min(list_transform(
          range(1, least(s.n - t2.x0[CAST(ti AS INTEGER)],
                         s.m - (t2.x0[CAST(ti AS INTEGER)]
                                - t1.ks[CAST(ti AS INTEGER)]))
                   + 1),
          q -> CASE WHEN substr(s.a,
                 CAST(t2.x0[CAST(ti AS INTEGER)] + q AS INTEGER), 1)
               != substr(s.b,
                 CAST(t2.x0[CAST(ti AS INTEGER)]
                      - t1.ks[CAST(ti AS INTEGER)] + q AS INTEGER),
                 1)
               THEN q - 1 END)),
        greatest(least(s.n - t2.x0[CAST(ti AS INTEGER)],
                       s.m - (t2.x0[CAST(ti AS INTEGER)]
                              - t1.ks[CAST(ti AS INTEGER)])),
                 0))) AS xs) t3
  CROSS JOIN LATERAL (
    SELECT list_transform(range(1, 2 * s.mx + 2), i ->
      CASE WHEN abs(i - 1 - s.mx) <= t0.dd
            AND (i - 1 - s.mx + t0.dd) % 2 = 0
      THEN t3.xs[CAST((i - 1 - s.mx + t0.dd) // 2 + 1 AS INTEGER)]
      ELSE s.V[CAST(i AS INTEGER)] END) AS newV) nv
  CROSS JOIN LATERAL (
    SELECT len(list_filter(range(1, len(t1.ks) + 1), ti ->
             t3.xs[CAST(ti AS INTEGER)] >= s.n
             AND t3.xs[CAST(ti AS INTEGER)]
                 - t1.ks[CAST(ti AS INTEGER)] >= s.m)) > 0 AS done2,
           list_max(list_transform(range(1, len(t1.ks) + 1), ti ->
             2 * t3.xs[CAST(ti AS INTEGER)]
             - t1.ks[CAST(ti AS INTEGER)])) AS reach2) dn
  WHERE NOT s.done AND s.d < s.mx
), fin AS (
  SELECT min(d) AS dist FROM st WHERE done
)
SELECT s.d, s.reach AS best_reach, s.done,
       CAST((SELECT dist FROM fin) AS BIGINT) AS edit_distance,
       CAST((s.n + s.m - (SELECT dist FROM fin)) // 2 AS BIGINT)
           AS lcs_implied
FROM st s WHERE s.d >= 0
"""


@register("text_myers_diff", _MYERS_SQL)
def text_myers_diff(spark, sf_dir):
    """Myers O(ND) diff (the algorithm inside git) between the two
    pinned 80-char document prefixes: the furthest-reaching V array
    advanced one edit-distance band d at a time — the PARITY trick
    making every diagonal k within a band independent (k reads only
    opposite-parity cells from band d-1, so the classic in-place
    update is really a parallel map), greedy snakes extended by
    exact first-mismatch scans (the suffix-array LCP idiom), stopping
    at the first band that reaches (n, m). The whole per-band
    best-reach trajectory is emitted (a wrong V cell anywhere shifts
    some band's reach) with the final edit distance and the implied
    LCS via the D = n + m - 2L identity — pinned against an
    independent full-DP LCS in tests. The shortest-edit-script
    complement of the Smith-Waterman / Needleman-Wunsch scoring
    family. Engine: bounded driver replay; oracle: identical
    V-carrying recursion with the band map in chained LATERALs."""
    import re as _re
    docs = (_t(spark, sf_dir, "documents").orderBy("doc_id").limit(2)
            .select("text").collect())
    a = _re.sub(r"[^a-z ]", "", docs[0]["text"][:80].lower())
    b = _re.sub(r"[^a-z ]", "", docs[1]["text"][:80].lower())
    n, m = len(a), len(b)
    mx = n + m
    off = mx
    V = [0] * (2 * mx + 1)
    out = []
    dist = None
    for d in range(0, mx + 1):
        newV = V[:]
        reach = -1
        done = False
        for k in range(-d, d + 1, 2):
            if k == -d or (k != d and V[k - 1 + off]
                           < V[k + 1 + off]):
                x = V[k + 1 + off]
            else:
                x = V[k - 1 + off] + 1
            y = x - k
            while x < n and y < m and a[x] == b[y]:
                x += 1
                y += 1
            newV[k + off] = x
            reach = max(reach, x + y)
            if x >= n and y >= m:
                done = True
        V = newV
        out.append((d, reach, done))
        if done:
            dist = d
            break
    lcs = (n + m - dist) // 2
    return spark.createDataFrame(
        [(d, r, dn, dist, lcs) for d, r, dn in out],
        "d int, best_reach long, done boolean, edit_distance long,"
        " lcs_implied long")


_ELIAS_FANO_SQL = """
WITH lists AS (
  SELECT 'type:' || event_type AS list_id, event_id AS x FROM events
  UNION ALL
  SELECT 'v100', event_id FROM events WHERE value >= 100
  UNION ALL
  SELECT 'v300', event_id FROM events WHERE value >= 300
), uu AS (
  SELECT max(event_id) + 1 AS u FROM events
), px AS (
  SELECT list_id, x,
         row_number() OVER (PARTITION BY list_id ORDER BY x) - 1 AS i,
         count(*) OVER (PARTITION BY list_id) AS n,
         max(x) OVER (PARTITION BY list_id) AS mx,
         (SELECT u FROM uu) AS u
  FROM lists
), ef AS (
  SELECT list_id, x, i, n, mx, u,
         greatest(length(bin(u // n)) - 1, 0) AS l
  FROM px
)
SELECT list_id, CAST(i AS BIGINT) AS i, CAST(x AS BIGINT) AS x,
       CAST(x // (CAST(1 AS BIGINT) << l) AS BIGINT) AS hi,
       CAST(x % (CAST(1 AS BIGINT) << l) AS BIGINT) AS lo,
       CAST(i + x // (CAST(1 AS BIGINT) << l) AS BIGINT) AS select_pos,
       ((x // (CAST(1 AS BIGINT) << l)) * (CAST(1 AS BIGINT) << l)
        + x % (CAST(1 AS BIGINT) << l)) = x AS recon_ok,
       CAST(l AS INTEGER) AS l, CAST(n AS BIGINT) AS n_list,
       CAST(u AS BIGINT) AS u,
       CAST(n * l + n + mx // (CAST(1 AS BIGINT) << l) AS BIGINT)
           AS total_bits,
       (n * l + n + mx // (CAST(1 AS BIGINT) << l)) < n * (l + 3)
           AS bound_ok
FROM ef
"""


@register("search_elias_fano_postings", _ELIAS_FANO_SQL)
def search_elias_fano_postings(spark, sf_dir):
    """Elias-Fano encoding of monotone posting lists — the quasi-succinct
    index representation inside modern search engines (Vigna 2013;
    Lucene/Tantivy doc-id blocks): each sorted event-id list is split at
    l = floor(log2(u/n)) bits (computed as length(bin(u div n))-1 — exact
    integer bit math, no float log) into l explicit low bits plus a unary
    high-bit vector in which the i-th element's 1 sits at position
    i + (x_i >> l) — emitted as select_pos, the O(1)-access/select
    identity. Three selectivity tiers exercise the split (per-type dense
    lists, a ~13% filtered list, a ~0.2% rare list whose l jumps to ~9;
    at the smallest scale the rare list is a single element — the n=1
    edge). Per element the reconstruction (hi << l) | lo = x is pinned,
    and per list the size bound total_bits < n*(l+3) — the 2 + log2(u/n)
    bits/element quasi-succinct guarantee in integer form — is pinned
    TRUE. Pure rank windows + expression math, fully distributed; the
    partition key is the list id, exactly how a sharded index builder
    would lay postings out."""
    e = _t(spark, sf_dir, "events")
    lists = (e.select(F.concat(F.lit("type:"), F.col("event_type"))
                      .alias("list_id"), F.col("event_id").alias("x"))
             .union(e.filter(F.col("value") >= 100)
                    .select(F.lit("v100"), F.col("event_id")))
             .union(e.filter(F.col("value") >= 300)
                    .select(F.lit("v300"), F.col("event_id"))))
    uu = e.agg((F.max("event_id") + 1).alias("u"))
    wp = Window.partitionBy("list_id")
    px = (lists
          .select("list_id", "x",
                  (F.row_number().over(wp.orderBy("x")) - 1).alias("i"),
                  F.count(F.lit(1)).over(wp).alias("n"),
                  F.max("x").over(wp).alias("mx"))
          .crossJoin(F.broadcast(uu)))
    ef = px.withColumn(
        "l", F.greatest(F.length(F.bin(F.expr("u div n"))) - 1, F.lit(0)))
    two_l = F.expr("shiftleft(CAST(1 AS BIGINT), l)")
    hi = F.expr("x div shiftleft(CAST(1 AS BIGINT), l)")
    lo = F.col("x") % two_l
    mhi = F.expr("mx div shiftleft(CAST(1 AS BIGINT), l)")
    return ef.select(
        "list_id", F.col("i").cast("long").alias("i"),
        F.col("x").cast("long").alias("x"),
        hi.cast("long").alias("hi"), lo.cast("long").alias("lo"),
        (F.col("i") + hi).cast("long").alias("select_pos"),
        ((hi * two_l + lo) == F.col("x")).alias("recon_ok"),
        F.col("l").cast("int").alias("l"),
        F.col("n").cast("long").alias("n_list"),
        F.col("u").cast("long").alias("u"),
        (F.col("n") * F.col("l") + F.col("n") + mhi).cast("long")
        .alias("total_bits"),
        ((F.col("n") * F.col("l") + F.col("n") + mhi)
         < F.col("n") * (F.col("l") + 3)).alias("bound_ok"))


_GK_N = 400        # replay length (bounded, ordered by event_id)
_GK_EPS_INV = 20   # eps = 1/20: 2*eps*n = n/10, eps*N = N/20

_GK_SQL = """
WITH RECURSIVE it AS (
  SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events ORDER BY event_id LIMIT 400
), st AS (
  SELECT 0 AS t,
         CAST([] AS STRUCT(v BIGINT, g BIGINT, d BIGINT)[]) AS l,
         (SELECT list(v ORDER BY event_id) FROM it) AS xs
  UNION ALL
  SELECT s.t + 1, fin.nl2, s.xs
  FROM st s
  CROSS JOIN LATERAL (
    SELECT s.xs[CAST(s.t + 1 AS INTEGER)] AS x, s.t AS n0,
           len(s.l) AS ln) t0
  CROSS JOIN LATERAL (
    SELECT len(list_filter(s.l, e -> e.v <= t0.x)) + 1 AS pos) t1
  CROSS JOIN LATERAL (
    SELECT CASE WHEN t1.pos = 1 OR t1.pos = t0.ln + 1 OR t0.n0 < 10
           THEN 0 ELSE t0.n0 // 10 - 1 END AS dnew) t2
  CROSS JOIN LATERAL (
    SELECT s.l[1:CAST(t1.pos - 1 AS INTEGER)]
           || [struct_pack(v := t0.x, g := CAST(1 AS BIGINT),
                           d := CAST(t2.dnew AS BIGINT))]
           || s.l[CAST(t1.pos AS INTEGER):CAST(t0.ln AS INTEGER)]
           AS nl) t3
  CROSS JOIN LATERAL (
    SELECT CASE WHEN (s.t + 1) % 10 <> 0 THEN t3.nl ELSE
      flatten(list_transform(range(1, len(t3.nl) // 2 + 1), k ->
        CASE WHEN 2 * k - 1 > 1 AND 2 * k < len(t3.nl)
                  AND t3.nl[CAST(2 * k - 1 AS INTEGER)].g
                      + t3.nl[CAST(2 * k AS INTEGER)].g
                      + t3.nl[CAST(2 * k AS INTEGER)].d
                      <= (s.t + 1) // 10
        THEN [struct_pack(
               v := t3.nl[CAST(2 * k AS INTEGER)].v,
               g := t3.nl[CAST(2 * k - 1 AS INTEGER)].g
                    + t3.nl[CAST(2 * k AS INTEGER)].g,
               d := t3.nl[CAST(2 * k AS INTEGER)].d)]
        ELSE [t3.nl[CAST(2 * k - 1 AS INTEGER)],
              t3.nl[CAST(2 * k AS INTEGER)]] END))
      || (CASE WHEN len(t3.nl) % 2 = 1
          THEN [t3.nl[CAST(len(t3.nl) AS INTEGER)]]
          ELSE CAST([] AS STRUCT(v BIGINT, g BIGINT, d BIGINT)[]) END)
      END AS nl2) fin
  WHERE s.t < 400
), finl AS (
  SELECT l FROM st WHERE t = 400
), summ AS (
  SELECT CAST(i AS INTEGER) AS i,
         l[CAST(i AS INTEGER)].v AS v,
         l[CAST(i AS INTEGER)].g AS g,
         l[CAST(i AS INTEGER)].d AS d,
         len(l) AS sz
  FROM finl, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) t
), cum AS (
  SELECT i, v, g, d, sz,
         sum(g) OVER (ORDER BY i) AS rmin,
         sum(g) OVER (ORDER BY i) + d AS rmax
  FROM summ
), probe AS (
  SELECT r, coalesce(
           (SELECT min(c.i) FROM cum c WHERE c.rmin + c.d > r + 20) - 1,
           (SELECT max(c.i) FROM cum c)) AS ai
  FROM (VALUES (200), (360), (396)) p(r)
), pv AS (
  SELECT p.r, c.v,
         NOT ((SELECT count(*) FROM it WHERE it.v < c.v) + 1 > p.r + 20
              OR (SELECT count(*) FROM it WHERE it.v <= c.v) < p.r - 20)
         AS ok
  FROM probe p JOIN cum c ON c.i = greatest(p.ai, 1)
)
SELECT cum.i, cum.v, cum.g, cum.d,
       CAST(cum.rmin AS BIGINT) AS rmin, CAST(cum.rmax AS BIGINT) AS rmax,
       cum.g + cum.d <= 40 AS invariant_ok,
       CAST(400 AS BIGINT) AS n, CAST(cum.sz AS BIGINT) AS summary_size,
       (SELECT v FROM pv WHERE r = 200) AS q50_v,
       (SELECT ok FROM pv WHERE r = 200) AS q50_ok,
       (SELECT v FROM pv WHERE r = 360) AS q90_v,
       (SELECT ok FROM pv WHERE r = 360) AS q90_ok,
       (SELECT v FROM pv WHERE r = 396) AS q99_v,
       (SELECT ok FROM pv WHERE r = 396) AS q99_ok
FROM cum
"""


@register("sketch_gk_quantiles", _GK_SQL)
def sketch_gk_quantiles(spark, sf_dir):
    """Greenwald-Khanna ε-approximate quantile summary (the algorithm
    inside Spark's own approxQuantile) replayed over the first 400 event
    values in cents, ε = 1/20: tuples (v, g, Δ) inserted with Δ =
    ⌊2εn⌋−1 (0 at the extremes and during warm-up), compressed every
    ⌊1/(2ε)⌋ = 10 inserts by a deterministic single pass over DISJOINT
    adjacent pairs — merging (vᵢ,gᵢ,Δᵢ),(vⱼ,gⱼ,Δⱼ) → (vⱼ,gᵢ+gⱼ,Δⱼ) only
    when gᵢ+gⱼ+Δⱼ ≤ ⌊2εn⌋ and never touching the min/max sentinels, so
    the GK invariant max(g+Δ) ≤ 2εn is maintained by construction and
    PINNED per final tuple (invariant_ok). The whole final summary is
    emitted with rmin/rmax rank bounds, and rank probes at p50/p90/p99
    are answered by the paper's rule (last tuple before rmin+Δ exceeds
    r+εN) then AUDITED against the exact rank interval of the returned
    value over the raw 400 — |rank−r| ≤ εN = 20 pinned TRUE (q*_ok).
    ~O(1/ε) summary vs 400 raw values; the mergeable-summary primitive
    a 1000-executor percentile aggregation ships per partition. Engine:
    bounded driver replay; oracle: identical one-insert-per-step
    nested-list recursion with the pair-merge pass as a flattened
    list_transform."""
    rows = (_t(spark, sf_dir, "events").orderBy("event_id")
            .limit(_GK_N)
            .select(F.floor(F.col("value") * 100 + 0.5).cast("long")
                    .alias("v")).collect())
    xs = [r["v"] for r in rows]
    l: list = []  # tuples [v, g, d], sorted by v
    for t1, x in enumerate(xs, start=1):
        n0 = t1 - 1
        pos = sum(1 for e in l if e[0] <= x) + 1
        dnew = 0 if (pos == 1 or pos == len(l) + 1 or n0 < 10) \
            else n0 // 10 - 1
        l = l[:pos - 1] + [[x, 1, dnew]] + l[pos - 1:]
        if t1 % 10 == 0:
            thr = t1 // 10
            nl2, k = [], 0
            while k + 1 < len(l):
                a, b = l[k], l[k + 1]
                if k > 0 and k + 2 < len(l) \
                        and a[1] + b[1] + b[2] <= thr:
                    nl2.append([b[0], a[1] + b[1], b[2]])
                else:
                    nl2.extend([a, b])
                k += 2
            if k < len(l):
                nl2.append(l[k])
            l = nl2
    rmins, acc = [], 0
    for v, g, d in l:
        acc += g
        rmins.append(acc)
    eN = _GK_N // _GK_EPS_INV
    probes = {}
    for r in (200, 360, 396):
        ai = next((i for i, (v, g, d) in enumerate(l, start=1)
                   if rmins[i - 1] + d > r + eN), None)
        ai = (ai - 1) if ai is not None else len(l)
        ai = max(ai, 1)
        v = l[ai - 1][0]
        lt = sum(1 for y in xs if y < v)
        le = sum(1 for y in xs if y <= v)
        probes[r] = (v, not (lt + 1 > r + eN or le < r - eN))
    out = [(i, v, g, d, rmins[i - 1], rmins[i - 1] + d,
            g + d <= 2 * eN, _GK_N, len(l),
            probes[200][0], probes[200][1], probes[360][0],
            probes[360][1], probes[396][0], probes[396][1])
           for i, (v, g, d) in enumerate(l, start=1)]
    return spark.createDataFrame(
        out, "i int, v long, g long, d long, rmin long, rmax long,"
             " invariant_ok boolean, n long, summary_size long,"
             " q50_v long, q50_ok boolean, q90_v long, q90_ok boolean,"
             " q99_v long, q99_ok boolean")


_MG_SQL = """
WITH words AS (
  SELECT doc_id, word AS w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents)
  WHERE word <> ''
), tot AS (
  SELECT count(*) AS n FROM words
), sw AS (
  SELECT CAST(concat('0x', substr(md5('mg:' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 8 AS s,
         w, count(*) AS c
  FROM words GROUP BY 1, 2
), rk AS (
  SELECT s, w, c,
         row_number() OVER (PARTITION BY s ORDER BY c DESC, w) AS rn
  FROM sw
), wl AS (
  SELECT s, w, c,
         max(CASE WHEN rn = 9 THEN c ELSE 0 END) OVER (PARTITION BY s)
         AS ws
  FROM rk
), est AS (
  SELECT w, sum(c - ws) AS m
  FROM wl WHERE c > ws GROUP BY w
), mrk AS (
  SELECT w, m, row_number() OVER (ORDER BY m DESC, w) AS rn
  FROM est
), mwl AS (
  SELECT w, m, max(CASE WHEN rn = 9 THEN m ELSE 0 END) OVER () AS wm
  FROM mrk
), fin AS (
  SELECT w, m - wm AS est FROM mwl WHERE m > wm
), truth AS (
  SELECT w, count(*) AS cnt FROM words GROUP BY w
), missed AS (
  SELECT count(*) AS miss
  FROM truth t CROSS JOIN tot
  WHERE t.cnt * 9 > tot.n AND t.w NOT IN (SELECT w FROM fin)
)
SELECT f.w AS word, CAST(f.est AS BIGINT) AS est,
       CAST(t.cnt AS BIGINT) AS true_cnt,
       CAST(tot.n AS BIGINT) AS n,
       CAST(tot.n // 9 AS BIGINT) AS err_bound,
       f.est <= t.cnt AS underestimate_ok,
       t.cnt - f.est <= tot.n // 9 AS error_ok,
       (SELECT miss FROM missed) = 0 AS no_missed_heavy,
       CAST(8 AS INTEGER) AS k
FROM fin f JOIN truth t ON t.w = f.w CROSS JOIN tot
"""


@register("sketch_misra_gries_merge", _MG_SQL)
def sketch_misra_gries_merge(spark, sf_dir):
    """Misra-Gries k=8 heavy hitters built the MERGEABLE way (Agarwal
    et al., Mergeable Summaries): the word stream is md5-sharded by
    document 8 ways, each shard's exact counts are REDUCED to a valid
    MG summary by subtracting the (k+1)-th largest shard count (the MG
    waterline — at most k survive, deterministic value-based cut so tie
    order is irrelevant), the ≤ 8×8 surviving counters are summed by
    word and reduced once more. No sequential counter replay anywhere —
    exactly how a 1000-executor job ships per-partition summaries to one
    combiner. The deterministic counterpart of the CMS heavy-hitter row:
    CMS overestimates w.h.p., MG UNDERestimates with a hard bound, and
    both pins ride every row — est ≤ true and true − est ≤ n/(k+1)
    (mergeable-summaries theorem: the shard waterlines plus the merge
    waterline sum to ≤ n/(k+1)), plus the completeness guarantee that no
    word with true·9 > n (integer cross-multiplied) is missing from the
    summary. Everything is groupBy + rank windows over bounded frames;
    truth is a second exact aggregate for the audit."""
    docs = _t(spark, sf_dir, "documents")
    words = (docs.select("doc_id",
                         F.explode(F.split("text", " ")).alias("w"))
             .filter(F.col("w") != ""))
    tot = words.agg(F.count(F.lit(1)).alias("n"))
    shard = (F.conv(F.substring(F.md5(F.concat(
        F.lit("mg:"), F.col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 8)
    sw = (words.withColumn("s", shard)
          .groupBy("s", "w").agg(F.count(F.lit(1)).alias("c")))
    rk = sw.withColumn("rn", F.row_number().over(
        Window.partitionBy("s").orderBy(F.desc("c"), "w")))
    wl = rk.withColumn("ws", F.max(
        F.when(F.col("rn") == 9, F.col("c")).otherwise(0))
        .over(Window.partitionBy("s")))
    est = (wl.filter(F.col("c") > F.col("ws"))
           .groupBy("w").agg(F.sum(F.col("c") - F.col("ws")).alias("m")))
    mrk = est.withColumn("rn", F.row_number().over(
        Window.orderBy(F.desc("m"), "w")))
    mwl = mrk.withColumn("wm", F.max(
        F.when(F.col("rn") == 9, F.col("m")).otherwise(0))
        .over(Window.partitionBy()))
    fin = (mwl.filter(F.col("m") > F.col("wm"))
           .select("w", (F.col("m") - F.col("wm")).alias("est")))
    truth = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    missed = (truth.crossJoin(F.broadcast(tot))
              .filter(F.col("cnt") * 9 > F.col("n"))
              .join(fin, "w", "left_anti")
              .agg(F.count(F.lit(1)).alias("miss")))
    return (fin.join(truth, "w").crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(missed))
            .select(F.col("w").alias("word"),
                    F.col("est").cast("long").alias("est"),
                    F.col("cnt").cast("long").alias("true_cnt"),
                    F.col("n").cast("long").alias("n"),
                    F.expr("n div 9").cast("long").alias("err_bound"),
                    (F.col("est") <= F.col("cnt"))
                    .alias("underestimate_ok"),
                    (F.col("cnt") - F.col("est") <= F.expr("n div 9"))
                    .alias("error_ok"),
                    (F.col("miss") == 0).alias("no_missed_heavy"),
                    F.lit(8).cast("int").alias("k")))


_AES_SQL = """
WITH d AS (
  SELECT doc_id,
         greatest(len(list_filter(string_split(text, ' '),
                                  x -> x <> '')), 1) AS w
  FROM documents
), pr AS (
  SELECT doc_id, w,
         CAST(floor(1000000.0 * ln(
           (CAST(concat('0x', substr(md5('aes:' ||
              CAST(doc_id AS VARCHAR)), 1, 16)) AS UBIGINT)
            + 1.0) / 18446744073709551616.0) / w) AS BIGINT) AS pr_e6
  FROM d
), rk AS (
  SELECT doc_id, w, pr_e6,
         row_number() OVER (ORDER BY pr_e6 DESC, doc_id) AS rn
  FROM pr
), tau AS (
  SELECT max(CASE WHEN rn = 21 THEN pr_e6 END) AS tau_e6,
         sum(w) AS total_w, count(*) AS n_docs
  FROM rk
)
SELECT CAST(r.rn AS INTEGER) AS rank, r.doc_id, CAST(r.w AS BIGINT) AS w,
       r.pr_e6,
       CAST(t.tau_e6 AS BIGINT) AS tau_e6,
       CAST(t.total_w AS BIGINT) AS total_w,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       r.pr_e6 >= t.tau_e6 AS above_tau
FROM rk r CROSS JOIN tau t WHERE r.rn <= 20
"""


@register("data_weighted_reservoir", _AES_SQL)
def data_weighted_reservoir(spark, sf_dir):
    """Weighted reservoir sample (Efraimidis-Spirakis A-ES, the one-pass
    weighted-sampling primitive behind corpus mixing): each document
    draws an md5-uniform u ∈ (0,1) and competes with priority
    ln(u)/w — the log form of the u^(1/w) key, so heavier documents
    systematically win — and the k=20 largest priorities form the
    sample. Priorities are e6-floored AFTER the double division (ln on
    identical IEEE doubles agrees across engines), ties broken by doc_id. The (k+1)-th priority rides
    along as tau (the inclusion threshold a Horvitz-Thompson estimator
    needs) with every kept row pinned ≥ tau. One map-side priority
    expression + one top-k — at scale this is per-partition top-k
    folded by TakeOrdered, no shuffle of the corpus, the exact shape
    of distributed reservoir sampling."""
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", F.greatest(
             F.size(F.filter(F.split("text", " "),
                             lambda x: x != "")), F.lit(1)).alias("w")))
    h = (F.conv(F.substring(F.md5(F.concat(
        F.lit("aes:"), F.col("doc_id").cast("string"))), 1, 16), 16, 10)
        .cast("decimal(20,0)").cast("double"))
    u = (h + 1.0) / 18446744073709551616.0
    pr = d.withColumn(
        "pr_e6",
        F.floor(1000000.0 * F.log(u) / F.col("w")).cast("long"))
    rk = pr.withColumn("rn", F.row_number().over(
        Window.orderBy(F.desc("pr_e6"), "doc_id")))
    tau = rk.agg(F.max(F.when(F.col("rn") == 21, F.col("pr_e6")))
                 .alias("tau_e6"),
                 F.sum("w").alias("total_w"),
                 F.count(F.lit(1)).alias("n_docs"))
    return (rk.filter(F.col("rn") <= 20).crossJoin(F.broadcast(tau))
            .select(F.col("rn").cast("int").alias("rank"), "doc_id",
                    F.col("w").cast("long").alias("w"), "pr_e6",
                    F.col("tau_e6").cast("long").alias("tau_e6"),
                    F.col("total_w").cast("long").alias("total_w"),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    (F.col("pr_e6") >= F.col("tau_e6"))
                    .alias("above_tau")))


_ROARING_SQL = """
WITH ids AS (
  SELECT event_type AS lst, event_id AS x FROM events
), ch AS (
  SELECT lst, x, x // 65536 AS chunk, x % 65536 AS low,
         CASE WHEN lag(x) OVER (PARTITION BY lst, x // 65536
                                ORDER BY x) = x - 1
              THEN 0 ELSE 1 END AS run_start
  FROM ids
), co AS (
  SELECT lst, chunk, count(*) AS n, sum(run_start) AS runs
  FROM ch GROUP BY lst, chunk
), sz AS (
  SELECT lst, chunk, n, runs,
         8 + 2 * n AS array_bytes,
         8 + 8192 AS bitmap_bytes,
         8 + 2 + 4 * runs AS run_bytes
  FROM co
), pick AS (
  SELECT lst, chunk, n, runs, array_bytes, bitmap_bytes, run_bytes,
         CASE
           WHEN n <= 4096 AND array_bytes <= run_bytes THEN 'array'
           WHEN run_bytes < bitmap_bytes
                AND (n > 4096 OR run_bytes < array_bytes) THEN 'run'
           ELSE 'bitmap' END AS container
  FROM sz
), tot AS (
  SELECT sum(CASE container WHEN 'array' THEN array_bytes
             WHEN 'run' THEN run_bytes ELSE bitmap_bytes END)
         AS total_bytes,
         sum(4 * n) AS plain_bytes
  FROM pick
)
SELECT p.lst AS list_id, CAST(p.chunk AS BIGINT) AS chunk,
       CAST(p.n AS BIGINT) AS n, CAST(p.runs AS BIGINT) AS runs,
       CAST(p.array_bytes AS BIGINT) AS array_bytes,
       CAST(p.bitmap_bytes AS BIGINT) AS bitmap_bytes,
       CAST(p.run_bytes AS BIGINT) AS run_bytes,
       p.container,
       CAST(CASE p.container WHEN 'array' THEN p.array_bytes
            WHEN 'run' THEN p.run_bytes
            ELSE p.bitmap_bytes END AS BIGINT) AS chosen_bytes,
       (CASE p.container WHEN 'array' THEN p.array_bytes
        WHEN 'run' THEN p.run_bytes ELSE p.bitmap_bytes END)
       <= least(CASE WHEN p.n <= 4096 THEN p.array_bytes
                ELSE p.bitmap_bytes END, p.bitmap_bytes, p.run_bytes)
       AS minimal_ok,
       CAST(t.total_bytes AS BIGINT) AS total_bytes,
       CAST(t.plain_bytes AS BIGINT) AS plain_bytes
FROM pick p CROSS JOIN tot t
"""


@register("search_roaring_layout", _ROARING_SQL)
def search_roaring_layout(spark, sf_dir):
    """Roaring-bitmap container layout for the per-type event-id sets —
    the compressed-bitmap format behind Lucene/Druid/ClickHouse filter
    indexes: ids split into 2¹⁶-value chunks, each chunk choosing among
    an array container (2 bytes/id, only legal ≤ 4096 ids), a fixed 8 KiB
    bitmap, or a run container (4 bytes/run, runs counted exactly via
    one lag window detecting x−1 gaps) — the genuine Roaring decision
    rule, with the chosen container's minimality over the legal
    alternatives pinned per chunk and corpus totals against plain 4-byte
    ids riding every row. The selectivity regimes flip the decision by
    scale: sparse per-type chunks pick arrays at small corpora and the
    dense interleaved chunks at sf0.1 flip to bitmaps (interleaving
    shatters runs, so run containers lose exactly as they do in
    production). All grouping + window arithmetic, fully distributed by
    (list, chunk) — the same key a sharded index builder partitions by."""
    e = _t(spark, sf_dir, "events")
    ch = (e.select(F.col("event_type").alias("lst"),
                   F.col("event_id").alias("x"))
          .withColumn("chunk", F.expr("x div 65536"))
          .withColumn("run_start", F.when(
              F.lag("x").over(Window.partitionBy("lst", "chunk")
                              .orderBy("x")) == F.col("x") - 1, 0)
              .otherwise(1)))
    co = (ch.groupBy("lst", "chunk")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum("run_start").alias("runs")))
    sz = (co.withColumn("array_bytes", 8 + 2 * F.col("n"))
          .withColumn("bitmap_bytes", F.lit(8 + 8192))
          .withColumn("run_bytes", 8 + 2 + 4 * F.col("runs")))
    pick = sz.withColumn("container", F.when(
        (F.col("n") <= 4096) & (F.col("array_bytes")
                                <= F.col("run_bytes")), "array")
        .when((F.col("run_bytes") < F.col("bitmap_bytes"))
              & ((F.col("n") > 4096)
                 | (F.col("run_bytes") < F.col("array_bytes"))), "run")
        .otherwise("bitmap"))
    chosen = (F.when(F.col("container") == "array", F.col("array_bytes"))
              .when(F.col("container") == "run", F.col("run_bytes"))
              .otherwise(F.col("bitmap_bytes")))
    tot = pick.agg(F.sum(chosen).alias("total_bytes"),
                   F.sum(4 * F.col("n")).alias("plain_bytes"))
    return (pick.crossJoin(F.broadcast(tot))
            .select(F.col("lst").alias("list_id"),
                    F.col("chunk").cast("long").alias("chunk"),
                    F.col("n").cast("long").alias("n"),
                    F.col("runs").cast("long").alias("runs"),
                    F.col("array_bytes").cast("long").alias("array_bytes"),
                    F.col("bitmap_bytes").cast("long")
                    .alias("bitmap_bytes"),
                    F.col("run_bytes").cast("long").alias("run_bytes"),
                    "container",
                    chosen.cast("long").alias("chosen_bytes"),
                    (chosen <= F.least(
                        F.when(F.col("n") <= 4096, F.col("array_bytes"))
                        .otherwise(F.col("bitmap_bytes")),
                        F.col("bitmap_bytes"), F.col("run_bytes")))
                    .alias("minimal_ok"),
                    F.col("total_bytes").cast("long").alias("total_bytes"),
                    F.col("plain_bytes").cast("long")
                    .alias("plain_bytes")))


_DGIM_SQL = """
WITH RECURSIVE bits AS (
  SELECT row_number() OVER (ORDER BY event_id) AS p,
         CASE WHEN value >= 50 THEN 1 ELSE 0 END AS b
  FROM events
), nn AS (
  SELECT max(p) AS n, sum(b) AS m FROM bits
), dig AS (
  SELECT 0 AS j, CAST((SELECT m FROM nn) AS BIGINT) AS mj,
         CAST(0 AS BIGINT) AS d, CAST(0 AS BIGINT) AS c
  UNION ALL
  SELECT j + 1, (mj - (2 - mj % 2)) // 2,
         2 - mj % 2,
         c + (2 - mj % 2) * (CAST(1 AS BIGINT) << j)
  FROM dig WHERE mj > 0
), lev AS (
  SELECT j - 1 AS j, d, c, c - d * (CAST(1 AS BIGINT) << (j - 1)) AS c0
  FROM dig WHERE j > 0
), ones AS (
  SELECT p, row_number() OVER (ORDER BY p DESC) AS r
  FROM bits WHERE b = 1
), asg AS (
  SELECT o.p, o.r, l.j,
         (o.r - l.c0 - 1) // (CAST(1 AS BIGINT) << l.j) AS k
  FROM ones o JOIN lev l ON o.r > l.c0 AND o.r <= l.c
), bk AS (
  SELECT j, k, CAST(1 AS BIGINT) << j AS size,
         max(p) AS ts, min(p) AS oldest_p,
         min(r) AS newest_rank, max(r) AS oldest_rank
  FROM asg GROUP BY j, k
), probes AS (
  SELECT wd.wl AS w,
         coalesce(2 * sum(b2.size), 0)
         - coalesce(min_by(b2.size, b2.ts), 0) AS est2,
         (SELECT count(*) FROM ones o2
          WHERE o2.p > (SELECT n FROM nn) - wd.wl) AS exact
  FROM (SELECT (SELECT n FROM nn) // 10 AS wl UNION ALL
        SELECT (SELECT n FROM nn) // 4 UNION ALL
        SELECT (SELECT n FROM nn) // 2 UNION ALL
        SELECT (SELECT n FROM nn)) wd
  LEFT JOIN bk b2 ON b2.ts > (SELECT n FROM nn) - wd.wl
  GROUP BY wd.wl
)
SELECT CAST(bk.j AS INTEGER) AS level, CAST(bk.k AS BIGINT) AS bucket,
       CAST(bk.size AS BIGINT) AS size, CAST(bk.ts AS BIGINT) AS ts,
       CAST(bk.newest_rank AS BIGINT) AS newest_rank,
       CAST(bk.oldest_rank AS BIGINT) AS oldest_rank,
       bk.oldest_rank - bk.newest_rank + 1 = bk.size AS span_ok,
       CAST((SELECT m FROM nn) AS BIGINT) AS m_ones,
       CAST((SELECT n FROM nn) AS BIGINT) AS n_bits,
       (SELECT CAST(est2 AS BIGINT) FROM probes
        WHERE w = (SELECT n FROM nn) // 10) AS w10_est2,
       (SELECT CAST(exact AS BIGINT) FROM probes
        WHERE w = (SELECT n FROM nn) // 10) AS w10_exact,
       (SELECT abs(est2 - 2 * exact) <= exact + 1 FROM probes
        WHERE w = (SELECT n FROM nn) // 10) AS w10_ok,
       (SELECT CAST(est2 AS BIGINT) FROM probes
        WHERE w = (SELECT n FROM nn) // 4) AS w4_est2,
       (SELECT CAST(exact AS BIGINT) FROM probes
        WHERE w = (SELECT n FROM nn) // 4) AS w4_exact,
       (SELECT abs(est2 - 2 * exact) <= exact + 1 FROM probes
        WHERE w = (SELECT n FROM nn) // 4) AS w4_ok,
       (SELECT CAST(est2 AS BIGINT) FROM probes
        WHERE w = (SELECT n FROM nn) // 2) AS w2_est2,
       (SELECT CAST(exact AS BIGINT) FROM probes
        WHERE w = (SELECT n FROM nn) // 2) AS w2_exact,
       (SELECT abs(est2 - 2 * exact) <= exact + 1 FROM probes
        WHERE w = (SELECT n FROM nn) // 2) AS w2_ok,
       (SELECT CAST(est2 AS BIGINT) FROM probes
        WHERE w = (SELECT n FROM nn)) AS w1_est2,
       (SELECT CAST(exact AS BIGINT) FROM probes
        WHERE w = (SELECT n FROM nn)) AS w1_exact,
       (SELECT abs(est2 - 2 * exact) <= exact + 1 FROM probes
        WHERE w = (SELECT n FROM nn)) AS w1_ok
FROM bk
"""


@register("sketch_dgim_window", _DGIM_SQL)
def sketch_dgim_window(spark, sf_dir):
    """DGIM sliding-window bit counting (Datar-Gionis-Indyk-Motwani)
    over the value≥50 indicator stream — WITHOUT replaying the bucket
    cascade: the lazy-increment redundant binary counter DGIM maintains
    has a canonical closed form (d_j = 2 − (m_j mod 2), m_{j+1} =
    (m_j − d_j)/2 — at most two buckets per power-of-two size), so each
    one-bit's bucket is computed ARITHMETICALLY from its recency rank
    against the level spans, and the bucket timestamp is just a per-
    bucket max — groupBy + windows end to end, the form a streaming
    executor would actually maintain per partition. Per bucket the
    recency span exactly equals its size (span_ok pinned — buckets
    partition the ones contiguously). Four window probes (N/10, N/4,
    N/2, N) answer with the classic rule — full buckets plus HALF the
    straddling oldest, kept integer as est2 = 2·Σsize − oldest_size —
    and the DGIM error theorem |est − exact| ≤ (exact+1)/2 is pinned
    per probe in cross-multiplied integer form. The cascade-equivalence
    of the closed form is verified against a literal bucket-merging
    simulation in tests."""
    e = _t(spark, sf_dir, "events")
    bits = e.select(
        F.row_number().over(Window.orderBy("event_id")).alias("p"),
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("b"))
    nn = bits.agg(F.max("p").alias("n"), F.sum("b").alias("m"))
    nrow = nn.collect()[0]
    n, m = int(nrow["n"]), int(nrow["m"])
    # canonical lazy-counter digits: metadata-scale (<= 64 levels)
    levs, mj, j, c0 = [], m, 0, 0
    while mj > 0:
        d = 2 - mj % 2
        c = c0 + d * (1 << j)
        levs.append((j, d, c0, c))
        mj = (mj - d) // 2
        j += 1
        c0 = c
    lev = spark.createDataFrame(
        [(j, d, c0, c) for j, d, c0, c in levs],
        "j int, d long, c0 long, c long")
    ones = (bits.filter(F.col("b") == 1)
            .select("p", F.row_number().over(Window.orderBy(F.desc("p")))
                    .alias("r")))
    asg = (ones.join(F.broadcast(lev),
                     (F.col("r") > F.col("c0")) & (F.col("r") <= F.col("c")))
           .select("p", "r", "j",
                   F.expr("(r - c0 - 1) div shiftleft(CAST(1 AS BIGINT), j)")
                   .alias("k")))
    exacts = asg.agg(*[
        F.sum(F.when(F.col("p") > n - w, 1).otherwise(0)).alias(tag)
        for tag, w in (("w10", n // 10), ("w4", n // 4),
                       ("w2", n // 2), ("w1", n))])
    bk = (asg.groupBy("j", "k")
          .agg(F.expr("shiftleft(CAST(1 AS BIGINT), j)").alias("size"),
               F.max("p").alias("ts"),
               F.min("r").alias("newest_rank"),
               F.max("r").alias("oldest_rank")).collect())
    ex = exacts.collect()[0]
    rows = []
    for tag, w in (("w10", n // 10), ("w4", n // 4),
                   ("w2", n // 2), ("w1", n)):
        inw = [b for b in bk if b["ts"] > n - w]
        s2 = 2 * sum(b["size"] for b in inw)
        old = min(inw, key=lambda b: b["ts"])["size"] if inw else 0
        est2 = s2 - old
        exact = int(ex[tag])
        rows.append((est2, exact, abs(est2 - 2 * exact) <= exact + 1))
    (w10, w4, w2, w1) = rows
    return spark.createDataFrame(
        [(int(b["j"]), int(b["k"]), int(b["size"]), int(b["ts"]),
          int(b["newest_rank"]), int(b["oldest_rank"]),
          b["oldest_rank"] - b["newest_rank"] + 1 == b["size"], m, n,
          w10[0], w10[1], w10[2], w4[0], w4[1], w4[2],
          w2[0], w2[1], w2[2], w1[0], w1[1], w1[2]) for b in bk],
        "level int, bucket long, size long, ts long, newest_rank long,"
        " oldest_rank long, span_ok boolean, m_ones long, n_bits long,"
        " w10_est2 long, w10_exact long, w10_ok boolean,"
        " w4_est2 long, w4_exact long, w4_ok boolean,"
        " w2_est2 long, w2_exact long, w2_ok boolean,"
        " w1_est2 long, w1_exact long, w1_ok boolean")


_CUCKOO_N = 200      # inserts (doc_ids 0..199)
_CUCKOO_B = 64       # buckets
_CUCKOO_S = 4        # slots per bucket


def _cuckoo_hashes(doc_id: int):
    import hashlib as _h

    def h60(s):
        return int(_h.md5(s.encode()).hexdigest()[:15], 16)
    fp = h60(f"fp:{doc_id}") % 255 + 1
    i1 = h60(f"i1:{doc_id}") % _CUCKOO_B
    i2 = i1 ^ (h60(f"fh:{fp}") % _CUCKOO_B)
    return fp, i1, i2


_CUCKOO_SQL = """
WITH RECURSIVE ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 200
), prep AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('fp:' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 255 + 1 AS fp,
         CAST(concat('0x', substr(md5('i1:' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 64 AS i1
  FROM ids
), items AS (
  SELECT doc_id, fp, i1,
         xor(i1, CAST(concat('0x', substr(md5('fh:' ||
             CAST(fp AS VARCHAR)), 1, 15)) AS BIGINT) % 64) AS i2
  FROM prep
), st AS (
  SELECT 0 AS t, 0 AS kicks, false AS carrying,
         CAST(0 AS BIGINT) AS cfp, CAST(0 AS BIGINT) AS cb,
         list_transform(range(1, 257), x -> CAST(0 AS BIGINT)) AS tbl,
         (SELECT list(fp ORDER BY doc_id) FROM items) AS fps,
         (SELECT list(i1 ORDER BY doc_id) FROM items) AS i1s,
         (SELECT list(i2 ORDER BY doc_id) FROM items) AS i2s
  UNION ALL
  SELECT nx.nt, nx.nkicks, nx.ncarrying, nx.ncfp, nx.ncb, nx.ntbl,
         s.fps, s.i1s, s.i2s
  FROM st s
  CROSS JOIN LATERAL (
    SELECT CASE WHEN s.carrying THEN s.cfp
           ELSE s.fps[CAST(s.t + 1 AS INTEGER)] END AS fp,
           CASE WHEN s.carrying THEN s.cb
           ELSE s.i1s[CAST(s.t + 1 AS INTEGER)] END AS b1,
           CASE WHEN s.carrying THEN s.cb
           ELSE s.i2s[CAST(s.t + 1 AS INTEGER)] END AS b2,
           s.tbl AS tb) t0
  CROSS JOIN LATERAL (
    SELECT coalesce(list_position(
             t0.tb[CAST(t0.b1 * 4 + 1 AS INTEGER):
                   CAST(t0.b1 * 4 + 4 AS INTEGER)], 0), 0) AS e1,
           coalesce(list_position(
             t0.tb[CAST(t0.b2 * 4 + 1 AS INTEGER):
                   CAST(t0.b2 * 4 + 4 AS INTEGER)], 0), 0) AS e2) t1
  CROSS JOIN LATERAL (
    SELECT CASE
      WHEN t1.e1 > 0 THEN t0.b1 * 4 + t1.e1
      WHEN t1.e2 > 0 THEN t0.b2 * 4 + t1.e2
      ELSE t0.b2 * 4 + 1 + s.kicks % 4 END AS pos,
      (t1.e1 = 0 AND t1.e2 = 0) AS kick) t2a
  CROSS JOIN LATERAL (
    SELECT t2a.pos AS pos, t2a.kick AS kick,
           t0.tb[CAST(t2a.pos AS INTEGER)] AS victim) t2
  CROSS JOIN LATERAL (
    SELECT t0.tb[1:CAST(t2.pos - 1 AS INTEGER)]
           || [t0.fp]
           || t0.tb[CAST(t2.pos + 1 AS INTEGER):256] AS ntbl,
           CASE WHEN NOT s.carrying THEN s.t + 1 ELSE s.t END AS nt,
           CASE WHEN t2.kick THEN s.kicks + 1 ELSE s.kicks END AS nkicks,
           t2.kick AS ncarrying,
           CASE WHEN t2.kick THEN t2.victim ELSE CAST(0 AS BIGINT) END
             AS ncfp,
           CASE WHEN t2.kick THEN
             xor((t2.pos - 1) // 4,
                 CAST(concat('0x', substr(md5('fh:' ||
                   CAST(coalesce(t2.victim, -1) AS VARCHAR)), 1, 15))
                   AS BIGINT) % 64)
           ELSE CAST(0 AS BIGINT) END AS ncb) nx
  -- coalesce: DuckDB vectorized CASE evaluates both branches; the
  -- not-taken branch must still be convertible when victim is NULL
  WHERE (s.t < 200 OR s.carrying) AND s.t + s.kicks < 2000
), fin AS (
  SELECT tbl, kicks FROM st
  WHERE t = 200 AND NOT carrying
), lk AS (
  SELECT it.doc_id, it.fp, it.i1, it.i2,
         list_contains(f.tbl[CAST(it.i1 * 4 + 1 AS INTEGER):
                             CAST(it.i1 * 4 + 4 AS INTEGER)],
                       it.fp) AS in1,
         list_contains(f.tbl[CAST(it.i2 * 4 + 1 AS INTEGER):
                             CAST(it.i2 * 4 + 4 AS INTEGER)],
                       it.fp) AS in2
  FROM items it CROSS JOIN fin f
), neg AS (
  SELECT count(*) AS fp_tested,
         sum(CASE WHEN inn1 OR inn2 THEN 1 ELSE 0 END) AS fp_hits
  FROM (
    SELECT list_contains(f.tbl[CAST(q.i1 * 4 + 1 AS INTEGER):
                                CAST(q.i1 * 4 + 4 AS INTEGER)],
                         q.fp) AS inn1,
           list_contains(f.tbl[CAST(q.i2 * 4 + 1 AS INTEGER):
                                CAST(q.i2 * 4 + 4 AS INTEGER)],
                         q.fp) AS inn2
    FROM (
      SELECT fp, i1,
             xor(i1, CAST(concat('0x', substr(md5('fh:' ||
                 CAST(fp AS VARCHAR)), 1, 15)) AS BIGINT) % 64) AS i2
      FROM (
        SELECT CAST(concat('0x', substr(md5('fp:' ||
                 CAST(x + 10000 AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 255 + 1 AS fp,
               CAST(concat('0x', substr(md5('i1:' ||
                 CAST(x + 10000 AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 64 AS i1
        FROM (SELECT unnest(range(0, 200)) AS x))
    ) q CROSS JOIN fin f)
), occ AS (
  SELECT len(list_filter(tbl, x -> x <> 0)) AS used FROM fin
)
SELECT l.doc_id, CAST(l.fp AS BIGINT) AS fp,
       CAST(l.i1 AS BIGINT) AS i1, CAST(l.i2 AS BIGINT) AS i2,
       l.in1 OR l.in2 AS found,
       xor(l.i2, CAST(concat('0x', substr(md5('fh:' ||
         CAST(l.fp AS VARCHAR)), 1, 15)) AS BIGINT) % 64) = l.i1
         AS involution_ok,
       CAST((SELECT kicks FROM fin) AS BIGINT) AS total_kicks,
       CAST((SELECT used FROM occ) AS BIGINT) AS slots_used,
       CAST((SELECT fp_tested FROM neg) AS BIGINT) AS neg_tested,
       CAST((SELECT fp_hits FROM neg) AS BIGINT) AS neg_false_pos
FROM lk l
"""


@register("sketch_cuckoo_filter", _CUCKOO_SQL)
def sketch_cuckoo_filter(spark, sf_dir):
    """Cuckoo filter (Fan et al.) — the deletable Bloom alternative:
    64 buckets × 4 slots, 8-bit nonzero md5 fingerprints, partial-key
    cuckoo hashing i2 = i1 XOR h(fp) whose INVOLUTION property (either
    bucket recovers the other from the stored fingerprint alone — the
    trick that makes relocation possible without the original key) is
    pinned per item. 200 inserts replayed with deterministic eviction
    (victim slot = kicks mod 4 in the alternate bucket, displaced
    fingerprint re-routed through the involution), then the structural
    guarantee every filter answer rests on — ZERO false negatives: all
    200 inserted items found — pinned per row, with a measured
    false-positive count over 200 disjoint probe keys and the final
    load factor riding as constants. Engine: bounded driver replay;
    oracle: identical recursion over a flat 256-slot table with the
    kick chain as carried state, hard-bounded at 2000 steps."""
    ids = sorted(r["doc_id"] for r in _t(spark, sf_dir, "documents")
                 .filter(F.col("doc_id") < _CUCKOO_N)
                 .select("doc_id").collect())
    inserted = []
    tbl = [0] * (_CUCKOO_B * _CUCKOO_S)
    kicks = 0
    for did in ids:
        fp, i1, i2 = _cuckoo_hashes(did)
        inserted.append((did, fp, i1, i2))
        cfp, b1, b2 = fp, i1, i2
        carrying = True
        while carrying:
            e1 = next((k for k in range(_CUCKOO_S)
                       if tbl[b1 * 4 + k] == 0), None)
            e2 = next((k for k in range(_CUCKOO_S)
                       if tbl[b2 * 4 + k] == 0), None)
            if e1 is not None:
                tbl[b1 * 4 + e1] = cfp
                carrying = False
            elif e2 is not None:
                tbl[b2 * 4 + e2] = cfp
                carrying = False
            else:
                s = kicks % 4
                victim = tbl[b2 * 4 + s]
                tbl[b2 * 4 + s] = cfp
                kicks += 1
                import hashlib as _h
                vh = int(_h.md5(f"fh:{victim}".encode())
                         .hexdigest()[:15], 16) % _CUCKOO_B
                cfp = victim
                b1 = b2 = b2 ^ vh
            assert kicks < 1800, "cuckoo table unexpectedly full"
    used = sum(1 for x in tbl if x != 0)
    neg_hits = 0
    for x in range(_CUCKOO_N):
        fp, i1, i2 = _cuckoo_hashes(x + 10000)
        if any(tbl[i1 * 4 + k] == fp for k in range(4)) or \
           any(tbl[i2 * 4 + k] == fp for k in range(4)):
            neg_hits += 1
    import hashlib as _h2
    rows = []
    for did, fp, i1, i2 in inserted:
        found = any(tbl[i1 * 4 + k] == fp for k in range(4)) or \
            any(tbl[i2 * 4 + k] == fp for k in range(4))
        inv = (i2 ^ (int(_h2.md5(f"fh:{fp}".encode())
                         .hexdigest()[:15], 16) % _CUCKOO_B)) == i1
        rows.append((did, fp, i1, i2, found, inv, kicks, used,
                     _CUCKOO_N, neg_hits))
    return spark.createDataFrame(
        rows, "doc_id long, fp long, i1 long, i2 long, found boolean,"
              " involution_ok boolean, total_kicks long,"
              " slots_used long, neg_tested long, neg_false_pos long")


_HAMMING_SQL = """
WITH src AS (
  SELECT doc_id, k,
         ascii(substr(text, CAST(k AS INTEGER), 1)) % 16 AS nib,
         CAST(concat('0x', substr(md5('he:' || CAST(doc_id AS VARCHAR)
              || ':' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents, (SELECT unnest(range(1, 65)) AS k)
  WHERE doc_id < 100 AND length(text) >= 64
), enc AS (
  SELECT doc_id, k, nib,
         nib % 2 AS d1, (nib // 2) % 2 AS d2,
         (nib // 4) % 2 AS d3, (nib // 8) % 2 AS d4,
         k % 4 AS scenario, h
  FROM src
), cw AS (
  SELECT *,
         xor(xor(d1, d2), d4) AS p1,
         xor(xor(d1, d3), d4) AS p2,
         xor(xor(d2, d3), d4) AS p4
  FROM enc
), flip AS (
  SELECT *,
         xor(xor(xor(xor(xor(xor(p1, p2), d1), p4), d2), d3), d4)
           AS p8,
         CASE WHEN scenario = 1 THEN h % 8 + 1 ELSE 0 END AS f1,
         CASE WHEN scenario = 2 THEN h % 8 + 1 ELSE 0 END AS f2a,
         CASE WHEN scenario = 2
           THEN (h % 8 + h // 8 % 7 + 1) % 8 + 1 ELSE 0 END AS f2b,
         CASE WHEN scenario = 3 THEN 8 ELSE 0 END AS f3
  FROM cw
), rx AS (
  SELECT doc_id, k, nib, scenario,
         CASE WHEN f2a = 8 OR f2b = 8 OR f3 = 8 THEN xor(p8, 1)
              WHEN f1 = 8 THEN xor(p8, 1) ELSE p8 END AS r8,
         xor(p1, CASE WHEN f1 = 1 OR f2a = 1 OR f2b = 1
                 THEN 1 ELSE 0 END) AS r1,
         xor(p2, CASE WHEN f1 = 2 OR f2a = 2 OR f2b = 2
                 THEN 1 ELSE 0 END) AS r2,
         xor(d1, CASE WHEN f1 = 3 OR f2a = 3 OR f2b = 3
                 THEN 1 ELSE 0 END) AS r3,
         xor(p4, CASE WHEN f1 = 4 OR f2a = 4 OR f2b = 4
                 THEN 1 ELSE 0 END) AS r4,
         xor(d2, CASE WHEN f1 = 5 OR f2a = 5 OR f2b = 5
                 THEN 1 ELSE 0 END) AS r5,
         xor(d3, CASE WHEN f1 = 6 OR f2a = 6 OR f2b = 6
                 THEN 1 ELSE 0 END) AS r6,
         xor(d4, CASE WHEN f1 = 7 OR f2a = 7 OR f2b = 7
                 THEN 1 ELSE 0 END) AS r7,
         f1, f2a, f2b
  FROM flip
), syn AS (
  SELECT *,
         xor(xor(xor(r1, r3), r5), r7)
         + 2 * xor(xor(xor(r2, r3), r6), r7)
         + 4 * xor(xor(xor(r4, r5), r6), r7) AS s,
         xor(xor(xor(xor(xor(xor(xor(r1, r2), r3), r4), r5), r6), r7),
             r8) AS pchk
  FROM rx
), dec AS (
  SELECT doc_id, k, nib, scenario, s, pchk, f1, f2a, f2b,
         CASE WHEN s = 0 AND pchk = 1 THEN 'parity_fixed'
              WHEN s = 0 THEN 'clean'
              WHEN pchk = 1 THEN 'corrected'
              ELSE 'double_detected' END
           AS verdict,
         CASE WHEN s > 0 AND pchk = 1 THEN
           (CASE WHEN s = 3 THEN xor(r3, 1) ELSE r3 END)
           + 2 * (CASE WHEN s = 5 THEN xor(r5, 1) ELSE r5 END)
           + 4 * (CASE WHEN s = 6 THEN xor(r6, 1) ELSE r6 END)
           + 8 * (CASE WHEN s = 7 THEN xor(r7, 1) ELSE r7 END)
         ELSE r3 + 2 * r5 + 4 * r6 + 8 * r7 END AS decoded
  FROM syn
)
SELECT doc_id, CAST(k AS INTEGER) AS k, CAST(nib AS INTEGER) AS nib,
       CAST(scenario AS INTEGER) AS scenario,
       CAST(s AS INTEGER) AS syndrome, CAST(pchk AS INTEGER) AS pchk,
       verdict, CAST(decoded AS INTEGER) AS decoded,
       CASE WHEN scenario = 2 THEN verdict = 'double_detected'
            ELSE decoded = nib END AS secded_ok,
       (scenario <> 1 OR f1 = 8 OR s = f1) AS syndrome_locates_ok
FROM dec
"""


@register("data_hamming_secded", _HAMMING_SQL)
def data_hamming_secded(spark, sf_dir):
    """Hamming(7,4) + SECDED(8,4) — the single-error-correct /
    double-error-detect code inside ECC RAM and storage checksums —
    over the low nibbles of the first 64 characters of 100 documents,
    with all four error scenarios planted per stripe (k mod 4): clean,
    one md5-chosen bit flip anywhere in the 8-bit codeword, TWO
    distinct flips, and a flip of the overall parity bit itself. The
    SECDED contract is pinned per codeword: clean/single/parity-flip
    rows must decode back to the original nibble (single errors
    corrected AT the syndrome position — syndrome_locates_ok pins that
    the syndrome equals the planted bit index), and double flips must
    be DETECTED, never silently miscorrected. Pure bit arithmetic in
    both engines (xor + integer div/mod — no bitmaps, no UDFs),
    map-side over (doc, position): the embarrassingly parallel shape
    of block-level integrity checking at any scale."""
    docs = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 100) & (F.length("text") >= 64)))
    ks = spark.range(1, 65).select(F.col("id").cast("int").alias("k"))
    src = (docs.crossJoin(F.broadcast(ks))
           .select("doc_id", "k",
                   (F.ascii(F.expr("substr(text, k, 1)")) % 16)
                   .alias("nib"),
                   F.conv(F.substring(F.md5(F.concat_ws(
                       "", F.lit("he:"), F.col("doc_id").cast("string"),
                       F.lit(":"), F.col("k").cast("string"))), 1, 15),
                       16, 10).cast("long").alias("h")))
    q = src.selectExpr(
        "doc_id", "k", "nib", "h",
        "nib % 2 AS d1", "(nib div 2) % 2 AS d2",
        "(nib div 4) % 2 AS d3", "(nib div 8) % 2 AS d4",
        "k % 4 AS scenario")
    q = q.selectExpr(
        "*", "d1 ^ d2 ^ d4 AS p1", "d1 ^ d3 ^ d4 AS p2",
        "d2 ^ d3 ^ d4 AS p4")
    q = q.selectExpr(
        "*", "p1 ^ p2 ^ d1 ^ p4 ^ d2 ^ d3 ^ d4 AS p8",
        "CASE WHEN scenario = 1 THEN h % 8 + 1 ELSE 0 END AS f1",
        "CASE WHEN scenario = 2 THEN h % 8 + 1 ELSE 0 END AS f2a",
        "CASE WHEN scenario = 2 THEN (h % 8 + h div 8 % 7 + 1) % 8 + 1"
        " ELSE 0 END AS f2b",
        "CASE WHEN scenario = 3 THEN 8 ELSE 0 END AS f3")
    q = q.selectExpr(
        "doc_id", "k", "nib", "scenario", "f1", "f2a", "f2b",
        "CASE WHEN f2a = 8 OR f2b = 8 OR f3 = 8 THEN p8 ^ 1"
        " WHEN f1 = 8 THEN p8 ^ 1 ELSE p8 END AS r8",
        "p1 ^ (CASE WHEN f1 = 1 OR f2a = 1 OR f2b = 1 THEN 1 ELSE 0"
        " END) AS r1",
        "p2 ^ (CASE WHEN f1 = 2 OR f2a = 2 OR f2b = 2 THEN 1 ELSE 0"
        " END) AS r2",
        "d1 ^ (CASE WHEN f1 = 3 OR f2a = 3 OR f2b = 3 THEN 1 ELSE 0"
        " END) AS r3",
        "p4 ^ (CASE WHEN f1 = 4 OR f2a = 4 OR f2b = 4 THEN 1 ELSE 0"
        " END) AS r4",
        "d2 ^ (CASE WHEN f1 = 5 OR f2a = 5 OR f2b = 5 THEN 1 ELSE 0"
        " END) AS r5",
        "d3 ^ (CASE WHEN f1 = 6 OR f2a = 6 OR f2b = 6 THEN 1 ELSE 0"
        " END) AS r6",
        "d4 ^ (CASE WHEN f1 = 7 OR f2a = 7 OR f2b = 7 THEN 1 ELSE 0"
        " END) AS r7")
    q = q.selectExpr(
        "*",
        "(r1 ^ r3 ^ r5 ^ r7) + 2 * (r2 ^ r3 ^ r6 ^ r7)"
        " + 4 * (r4 ^ r5 ^ r6 ^ r7) AS s",
        "r1 ^ r2 ^ r3 ^ r4 ^ r5 ^ r6 ^ r7 ^ r8 AS pchk")
    q = q.selectExpr(
        "doc_id", "k", "nib", "scenario", "s", "pchk", "f1",
        "CASE WHEN s = 0 AND pchk = 1 THEN 'parity_fixed'"
        " WHEN s = 0 THEN 'clean' WHEN pchk = 1 THEN 'corrected'"
        " ELSE 'double_detected' END AS verdict",
        "CASE WHEN s > 0 AND pchk = 1 THEN"
        " (CASE WHEN s = 3 THEN r3 ^ 1 ELSE r3 END)"
        " + 2 * (CASE WHEN s = 5 THEN r5 ^ 1 ELSE r5 END)"
        " + 4 * (CASE WHEN s = 6 THEN r6 ^ 1 ELSE r6 END)"
        " + 8 * (CASE WHEN s = 7 THEN r7 ^ 1 ELSE r7 END)"
        " ELSE r3 + 2 * r5 + 4 * r6 + 8 * r7 END AS decoded")
    return q.selectExpr(
        "doc_id", "CAST(k AS INT) AS k", "CAST(nib AS INT) AS nib",
        "CAST(scenario AS INT) AS scenario", "CAST(s AS INT) AS syndrome",
        "CAST(pchk AS INT) AS pchk", "verdict",
        "CAST(decoded AS INT) AS decoded",
        "CASE WHEN scenario = 2 THEN verdict = 'double_detected'"
        " ELSE decoded = nib END AS secded_ok",
        "(scenario <> 1 OR f1 = 8 OR s = f1) AS syndrome_locates_ok")


# ---- Reed-Solomon RS(6,4) erasure coding over GF(256), poly 0x11d ----

_GF_EXP = [0] * 256
_GF_LOG = [0] * 256


def _gf_init():
    x = 1
    for i in range(255):
        _GF_EXP[i] = x
        _GF_LOG[x] = i
        x <<= 1
        if x >= 256:
            x ^= 0x11D
    _GF_EXP[255] = _GF_EXP[0]


_gf_init()


def _gf_mul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _GF_EXP[(_GF_LOG[a] + _GF_LOG[b]) % 255]


def _gf_inv(a: int) -> int:
    return _GF_EXP[(255 - _GF_LOG[a]) % 255]


def _rs_constants():
    """Code-structure constants shared by engine and oracle: the
    Vandermonde generator row logs, the md5-chosen erasure pair, and
    the Lagrange recovery/re-encode coefficient logs for that pair."""
    import hashlib as _h
    xs = [j + 1 for j in range(6)]                   # evaluation points
    gen = [[pow_ for i in range(4)
            for pow_ in [_gf_pow(xs[j], i)]] for j in range(6)]
    h = int(_h.md5(b"rs:erasure").hexdigest()[:15], 16)
    e1 = h % 6
    e2 = (e1 + h // 6 % 5 + 1) % 6
    surv = [j for j in range(6) if j not in (e1, e2)]
    # Lagrange: data coeffs d_i = XOR_r L[r][i] * S_r over survivors
    ys = [xs[j] for j in surv]
    L = [[0] * 4 for _ in range(4)]
    for r in range(4):
        oth = [ys[t] for t in range(4) if t != r]
        a, b, c = oth
        sym = [_gf_mul(_gf_mul(a, b), c),
               _gf_mul(a, b) ^ _gf_mul(b, c) ^ _gf_mul(c, a),
               a ^ b ^ c, 1]
        den = 1
        for t in oth:
            den = _gf_mul(den, ys[r] ^ t)
        dinv = _gf_inv(den)
        for i in range(4):
            L[r][i] = _gf_mul(sym[i], dinv)
    return xs, gen, e1, e2, surv, L


def _gf_pow(x: int, e: int) -> int:
    r = 1
    for _ in range(e):
        r = _gf_mul(r, x)
    return r


def _rs_gmul_sql(const: int, expr: str) -> str:
    """SQL for gf_mul(const, expr) with a compile-time constant: one
    log-table hop — el[ (log_const + log expr) mod 255 + 1 ]."""
    if const == 0:
        return "0"
    lc = _GF_LOG[const]
    if const == 1:
        return f"({expr})"
    return (f"(CASE WHEN ({expr}) = 0 THEN 0 ELSE "
            f"el[CAST(({lc} + list_position(el, {expr}) - 1) % 255 + 1"
            f" AS INTEGER)] END)")


def _rs_sql() -> str:
    xs, gen, e1, e2, surv, L = _rs_constants()
    enc_cols = []
    for j in range(6):
        terms = [_rs_gmul_sql(gen[j][i], f"d{i}") for i in range(4)]
        enc_cols.append(
            f"xor(xor({terms[0]}, {terms[1]}),"
            f" xor({terms[2]}, {terms[3]})) AS s{j}")
    rec_cols = []
    for i in range(4):
        terms = [_rs_gmul_sql(L[r][i], f"s{surv[r]}") for r in range(4)]
        rec_cols.append(
            f"xor(xor({terms[0]}, {terms[1]}),"
            f" xor({terms[2]}, {terms[3]})) AS rec{i}")
    reenc = []
    for nm, ej in (("re1", e1), ("re2", e2)):
        terms = [_rs_gmul_sql(gen[ej][i], f"rec{i}") for i in range(4)]
        reenc.append(
            f"xor(xor({terms[0]}, {terms[1]}),"
            f" xor({terms[2]}, {terms[3]})) AS {nm}")
    return f"""
WITH RECURSIVE gf AS (
  SELECT 0 AS i, [CAST(1 AS BIGINT)] AS e
  UNION ALL
  SELECT i + 1, e || [CASE WHEN e[CAST(i + 1 AS INTEGER)] * 2 >= 256
    THEN xor(e[CAST(i + 1 AS INTEGER)] * 2, 285)
    ELSE e[CAST(i + 1 AS INTEGER)] * 2 END]
  FROM gf WHERE i < 254
), el_t AS (
  SELECT e AS el FROM gf WHERE i = 254
), doc AS (
  SELECT string_agg(text, ' ' ORDER BY doc_id) AS text
  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 5)
), data AS (
  SELECT k.k,
         ascii(substr(d.text, CAST(0 * 64 + k.k + 1 AS INTEGER), 1))
           AS d0,
         ascii(substr(d.text, CAST(1 * 64 + k.k + 1 AS INTEGER), 1))
           AS d1,
         ascii(substr(d.text, CAST(2 * 64 + k.k + 1 AS INTEGER), 1))
           AS d2,
         ascii(substr(d.text, CAST(3 * 64 + k.k + 1 AS INTEGER), 1))
           AS d3,
         el_t.el AS el
  FROM doc d, (SELECT unnest(range(0, 64)) AS k) k, el_t
), enc AS (
  SELECT k, d0, d1, d2, d3, el,
         {', '.join(enc_cols)}
  FROM data
), rec AS (
  SELECT k, d0, d1, d2, d3, s0, s1, s2, s3, s4, s5, el,
         {', '.join(rec_cols)}
  FROM enc
), ree AS (
  SELECT *, {', '.join(reenc)}
  FROM rec
)
SELECT CAST(k AS INTEGER) AS k,
       CAST(d0 AS INTEGER) AS d0, CAST(d1 AS INTEGER) AS d1,
       CAST(d2 AS INTEGER) AS d2, CAST(d3 AS INTEGER) AS d3,
       CAST(s0 AS INTEGER) AS s0, CAST(s1 AS INTEGER) AS s1,
       CAST(s2 AS INTEGER) AS s2, CAST(s3 AS INTEGER) AS s3,
       CAST(s4 AS INTEGER) AS s4, CAST(s5 AS INTEGER) AS s5,
       CAST({e1} AS INTEGER) AS erased1, CAST({e2} AS INTEGER)
         AS erased2,
       CAST(rec0 AS INTEGER) AS rec0, CAST(rec1 AS INTEGER) AS rec1,
       CAST(rec2 AS INTEGER) AS rec2, CAST(rec3 AS INTEGER) AS rec3,
       (rec0 = d0 AND rec1 = d1 AND rec2 = d2 AND rec3 = d3)
         AS recover_ok,
       (re1 = s{e1} AND re2 = s{e2}) AS reencode_ok
FROM ree
"""


@register("data_rs_erasure", _rs_sql())
def data_rs_erasure(spark, sf_dir):
    """Reed-Solomon RS(6,4) erasure coding over GF(256) (poly 0x11d,
    α=2) — the MDS code behind HDFS/S3/Ceph erasure-coded storage: 256
    bytes of the first document split into 4 data shards, encoded into
    6 by a Vandermonde evaluation at x=1..6 (any 4 of 6 rows
    invertible — the MDS property), two md5-chosen shards ERASED, and
    the data recovered from the survivors by Lagrange interpolation in
    closed form — characteristic 2 kills every sign, so the recovery
    coefficients are elementary symmetric polynomials over the
    surviving nodes divided by Π(y_r − y_t), no Gaussian elimination
    anywhere. Pinned per byte position: exact recovery of all four
    data bytes from 4-of-6 (recover_ok — the erasure-tolerance
    contract) and re-encoding the recovered data reproduces the two
    erased shards bit-exactly (reencode_ok — consistency of the code).
    The oracle builds the GF(256) exp table by a 255-step xtime
    recursion and runs every multiply through one log-hop with
    compile-time coefficient logs; the engine computes the same field
    arithmetic in integer Python. Per-position math is embarrassingly
    parallel — the per-stripe shape of erasure-coded object storage."""
    txt = " ".join(
        r["text"] for r in _t(spark, sf_dir, "documents")
        .orderBy("doc_id").limit(5).collect())
    xs, gen, e1, e2, surv, L = _rs_constants()
    rows = []
    for k in range(64):
        d = [ord(txt[i * 64 + k]) for i in range(4)]
        s = [0] * 6
        for j in range(6):
            acc = 0
            for i in range(4):
                acc ^= _gf_mul(gen[j][i], d[i])
            s[j] = acc
        rec = [0] * 4
        for i in range(4):
            acc = 0
            for r in range(4):
                acc ^= _gf_mul(L[r][i], s[surv[r]])
            rec[i] = acc
        re_ = []
        for ej in (e1, e2):
            acc = 0
            for i in range(4):
                acc ^= _gf_mul(gen[ej][i], rec[i])
            re_.append(acc)
        rows.append((k, d[0], d[1], d[2], d[3],
                     s[0], s[1], s[2], s[3], s[4], s[5], e1, e2,
                     rec[0], rec[1], rec[2], rec[3],
                     rec == d, re_[0] == s[e1] and re_[1] == s[e2]))
    return spark.createDataFrame(
        rows, "k int, d0 int, d1 int, d2 int, d3 int, s0 int, s1 int,"
              " s2 int, s3 int, s4 int, s5 int, erased1 int,"
              " erased2 int, rec0 int, rec1 int, rec2 int, rec3 int,"
              " recover_ok boolean, reencode_ok boolean")


_LENBATCH_SQL = """
WITH RECURSIVE d AS (
  SELECT doc_id,
         least(len(list_filter(string_split(text, ' '),
                               x -> x <> '')), 512) AS tok,
         CAST(concat('0x', substr(md5('lb:' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 8 AS shard
  FROM documents
), ordered AS (
  SELECT 'fifo' AS variant, shard, doc_id, tok,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM d
  UNION ALL
  SELECT 'sorted', shard, doc_id, tok,
         row_number() OVER (PARTITION BY shard
                            ORDER BY tok DESC, doc_id)
  FROM d
), fold AS (
  SELECT variant, shard, rn, doc_id, tok,
         CAST(0 AS BIGINT) AS batch, CAST(1 AS BIGINT) AS cnt,
         CAST(tok AS BIGINT) AS mx
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.variant, o.shard, o.rn, o.doc_id, o.tok,
         CASE WHEN (f.cnt + 1) * greatest(f.mx, o.tok) <= 4096
              THEN f.batch ELSE f.batch + 1 END,
         CASE WHEN (f.cnt + 1) * greatest(f.mx, o.tok) <= 4096
              THEN f.cnt + 1 ELSE CAST(1 AS BIGINT) END,
         CASE WHEN (f.cnt + 1) * greatest(f.mx, o.tok) <= 4096
              THEN greatest(f.mx, o.tok) ELSE CAST(o.tok AS BIGINT) END
  FROM fold f
  JOIN ordered o ON o.variant = f.variant AND o.shard = f.shard
                AND o.rn = f.rn + 1
), bt AS (
  SELECT variant, shard, batch, count(*) AS bcnt, max(tok) AS bmax,
         sum(tok) AS btok
  FROM fold GROUP BY variant, shard, batch
), vt AS (
  SELECT variant, sum(bcnt * bmax) AS padded, sum(btok) AS tokens
  FROM bt GROUP BY variant
)
SELECT f.variant, CAST(f.shard AS INTEGER) AS shard, f.doc_id,
       CAST(f.tok AS BIGINT) AS n_tokens,
       CAST(f.batch AS BIGINT) AS batch,
       CAST(b.bcnt * b.bmax AS BIGINT) AS batch_padded,
       b.bcnt * b.bmax <= 4096 AS budget_ok,
       CAST(v.padded AS BIGINT) AS variant_padded,
       CAST(v.tokens AS BIGINT) AS variant_tokens,
       CAST(v.padded - v.tokens AS BIGINT) AS variant_waste,
       (SELECT min(padded) FROM vt) = (SELECT padded FROM vt v2
                                       WHERE v2.variant = 'sorted')
         AS sorted_no_worse
FROM fold f
JOIN bt b ON b.variant = f.variant AND b.shard = f.shard
         AND b.batch = f.batch
JOIN vt v ON v.variant = f.variant
"""


@register("data_length_batching", _LENBATCH_SQL)
def data_length_batching(spark, sf_dir):
    """Length-bucketed dynamic batching — the padding-waste lever in
    every LLM training/inference server: documents (token counts capped
    at max_seq 512) greedily packed into batches under a 4096
    padded-token budget, cost = batch_size × max_len_in_batch, in two
    orders per md5 shard — arrival order (FIFO) versus length-sorted —
    with per-batch budget compliance pinned on every row and the
    headline comparison emitted: the sorted variant's total padded
    tokens never exceed FIFO's on this corpus (near-uniform batch
    lengths are the whole point of bucketing). The greedy fold is an
    Arrow applyInPandas per (variant, shard) — shards are the
    parallelism unit exactly as in operators/packing.py, O(1) state
    per group, the 10⁹-document shape. Oracle: the pack_sequences-style
    recursion keyed by (variant, shard, rn) advancing every shard's
    chain in parallel."""
    import pandas as pd
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id",
                 F.least(F.size(F.filter(F.split("text", " "),
                                         lambda x: x != "")),
                         F.lit(512)).alias("tok"),
                 (F.conv(F.substring(F.md5(F.concat(
                     F.lit("lb:"), F.col("doc_id").cast("string"))),
                     1, 15), 16, 10).cast("long") % 8).alias("shard")))
    ordered = (d.select(F.lit("fifo").alias("variant"), "shard",
                        "doc_id", "tok",
                        F.row_number().over(
                            Window.partitionBy("shard")
                            .orderBy("doc_id")).alias("rn"))
               .union(d.select(F.lit("sorted"), "shard", "doc_id", "tok",
                               F.row_number().over(
                                   Window.partitionBy("shard")
                                   .orderBy(F.desc("tok"), "doc_id")))))

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("rn").copy()
        pdf["batch"] = _lb_batches(list(pdf["tok"]))
        return pdf[["variant", "shard", "doc_id", "tok", "batch"]]

    res = (ordered.groupBy("variant", "shard")
           .applyInPandas(fold, "variant string, shard long,"
                                " doc_id long, tok int, batch long"))
    bt = (res.groupBy("variant", "shard", "batch")
          .agg(F.count(F.lit(1)).alias("bcnt"),
               F.max("tok").alias("bmax"),
               F.sum("tok").alias("btok")))
    vt = bt.groupBy("variant").agg(
        (F.sum(F.col("bcnt") * F.col("bmax"))).alias("padded"),
        F.sum("btok").alias("tokens"))
    best = vt.agg(F.min("padded").alias("minp")).crossJoin(
        vt.filter(F.col("variant") == "sorted")
        .select(F.col("padded").alias("sortp")))
    return (res.join(bt, ["variant", "shard", "batch"])
            .join(vt, "variant").crossJoin(F.broadcast(best))
            .select("variant", F.col("shard").cast("int").alias("shard"),
                    "doc_id", F.col("tok").cast("long").alias("n_tokens"),
                    F.col("batch").cast("long").alias("batch"),
                    (F.col("bcnt") * F.col("bmax")).cast("long")
                    .alias("batch_padded"),
                    (F.col("bcnt") * F.col("bmax") <= 4096)
                    .alias("budget_ok"),
                    F.col("padded").cast("long").alias("variant_padded"),
                    F.col("tokens").cast("long").alias("variant_tokens"),
                    (F.col("padded") - F.col("tokens")).cast("long")
                    .alias("variant_waste"),
                    (F.col("minp") == F.col("sortp"))
                    .alias("sorted_no_worse")))


def _lb_batches(toks):
    """Greedy batch assignment under the (count+1)*max <= 4096 rule."""
    batch, cnt, mx, out = 0, 0, 0, []
    for t in toks:
        t = int(t)
        if cnt > 0 and (cnt + 1) * max(mx, t) <= 4096:
            cnt += 1
            mx = max(mx, t)
        else:
            if cnt > 0:
                batch += 1
            cnt, mx = 1, t
        out.append(batch)
    return out


_FM_PATTERNS = ["the", "ing", "data", "qu"]


def _fm_sql() -> str:
    # per-pattern backward-search chains as generated LATERALs; the
    # pattern characters are compile-time constants, all interval
    # arithmetic runs on the data-derived C/occ tables
    pats = []
    for p in _FM_PATTERNS:
        chain = []
        last = p[-1]
        chain.append(
            f"LATERAL (SELECT coalesce((SELECT c FROM ctab"
            f" WHERE ch = '{last}'), 0) + 1 AS sp,"
            f" coalesce((SELECT c FROM ctab WHERE ch = '{last}'), 0)"
            f" + coalesce((SELECT cnt FROM freq WHERE ch = '{last}'),"
            f" 0) AS ep) st1")
        for k, c in enumerate(reversed(p[:-1]), start=2):
            prev = f"st{k - 1}"
            chain.append(
                f"LATERAL (SELECT CASE WHEN {prev}.sp > {prev}.ep"
                f" THEN {prev}.sp ELSE"
                f" coalesce((SELECT c FROM ctab WHERE ch = '{c}'), 0)"
                f" + (SELECT count(*) FROM ranked WHERE ch = '{c}'"
                f" AND rank <= {prev}.sp - 1) + 1 END AS sp,"
                f" CASE WHEN {prev}.sp > {prev}.ep THEN {prev}.ep ELSE"
                f" coalesce((SELECT c FROM ctab WHERE ch = '{c}'), 0)"
                f" + (SELECT count(*) FROM ranked WHERE ch = '{c}'"
                f" AND rank <= {prev}.ep) END AS ep) st{k}")
        steps_rows = []
        for k in range(1, len(p) + 1):
            c = p[len(p) - k]
            steps_rows.append(
                f"SELECT '{p}' AS pattern, {k} AS step, '{c}' AS ch,"
                f" CAST(st{k}.sp AS BIGINT) AS sp,"
                f" CAST(st{k}.ep AS BIGINT) AS ep,"
                f" CAST(greatest(st{k}.ep - st{k}.sp + 1, 0) AS BIGINT)"
                f" AS width,"
                f" CAST(greatest(st{len(p)}.ep - st{len(p)}.sp + 1, 0)"
                f" AS BIGINT) AS fm_count,"
                f" CAST((length((SELECT s FROM d))"
                f" - length(replace((SELECT s FROM d), '{p}', '')))"
                f" // {len(p)} AS BIGINT) AS direct_count"
                f" FROM {' , '.join(['(SELECT 1) one'] + chain)}")
        pats.append(" UNION ALL ".join(steps_rows))
    body = " UNION ALL ".join(pats)
    return f"""
WITH d AS (
  SELECT regexp_replace(lower(substr(text, 1, 200)), '[^a-z ]', '', 'g')
         || '!' AS s
  FROM documents ORDER BY doc_id LIMIT 1
), idx AS (
  SELECT unnest(range(1, length((SELECT s FROM d)) + 1)) AS i
), rot AS (
  SELECT CAST(i AS INTEGER) AS start_idx,
         substr(d.s, CAST(i AS INTEGER))
           || substr(d.s, 1, CAST(i AS INTEGER) - 1) AS r,
         d.s AS s
  FROM idx, d
), ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY r) AS INTEGER) AS rank,
         substr(r, length(s), 1) AS ch
  FROM rot
), freq AS (
  SELECT ch, count(*) AS cnt FROM ranked GROUP BY ch
), ctab AS (
  SELECT f.ch, coalesce(sum(g.cnt), 0) AS c
  FROM freq f LEFT JOIN freq g ON g.ch < f.ch
  GROUP BY f.ch
), res AS ({body})
SELECT pattern, CAST(step AS INTEGER) AS step, ch, sp, ep, width,
       fm_count, direct_count, fm_count = direct_count AS fm_exact_ok
FROM res
"""


@register("text_fm_index_search", _fm_sql())
def text_fm_index_search(spark, sf_dir):
    """FM-index backward search (Ferragina-Manzini — the compressed
    substring index inside bwa/bowtie) over the same 200-char
    normalized document prefix as text_bwt_runs: BWT from sorted
    rotations, C table from the character histogram, and each pattern
    matched RIGHT to LEFT by the classic interval recurrence sp' =
    C[c] + Occ(c, sp−1) + 1, ep' = C[c] + Occ(c, ep) — every step of
    every interval emitted (sp, ep, width per consumed character), and
    the final interval width pinned equal to a direct substring count
    computed by length arithmetic in both engines (the four probe
    patterns are chosen border-free so overlapping and non-overlapping
    counts coincide and the replace-based direct count is exact).
    Empty intervals propagate honestly (width 0 stays 0). The trio
    text_bwt_runs / text_bwt_inverse / this row now covers build,
    invert and SEARCH on the same transform. Engine: bounded driver
    replay over the same rotations; oracle: generated per-pattern
    LATERAL chains with correlated Occ subqueries against the ranked
    rotation table."""
    import re as _re
    txt = (_t(spark, sf_dir, "documents").orderBy("doc_id")
           .limit(1).collect()[0]["text"])
    s = _re.sub(r"[^a-z ]", "", txt[:200].lower()) + "!"
    n = len(s)
    rots = sorted(s[i:] + s[:i] for i in range(n))
    bwt = [r[-1] for r in rots]
    freq: dict = {}
    for c in s:
        freq[c] = freq.get(c, 0) + 1
    ctab = {c: sum(v for k, v in freq.items() if k < c) for c in freq}

    def occ(c, i):
        return sum(1 for x in bwt[:i] if x == c)

    rows = []
    for p in _FM_PATTERNS:
        direct = (len(s) - len(s.replace(p, ""))) // len(p)
        c = p[-1]
        sp = ctab.get(c, 0) + 1
        ep = ctab.get(c, 0) + freq.get(c, 0)
        steps = [(1, c, sp, ep)]
        for k, c in enumerate(reversed(p[:-1]), start=2):
            if sp > ep:
                steps.append((k, c, sp, ep))
                continue
            sp2 = ctab.get(c, 0) + occ(c, sp - 1) + 1
            ep2 = ctab.get(c, 0) + occ(c, ep)
            sp, ep = sp2, ep2
            steps.append((k, c, sp, ep))
        fm = max(ep - sp + 1, 0)
        for k, c, a, b in steps:
            rows.append((p, k, c, a, b, max(b - a + 1, 0), fm, direct,
                         fm == direct))
    return spark.createDataFrame(
        rows, "pattern string, step int, ch string, sp long, ep long,"
              " width long, fm_count long, direct_count long,"
              " fm_exact_ok boolean")


_WAVELET_SQL = """
WITH words AS (
  SELECT doc_id, wp, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS wp
        FROM documents)
  WHERE word <> ''
), seq0 AS (
  SELECT word, row_number() OVER (ORDER BY doc_id, wp) AS pos
  FROM words
), seq AS (
  SELECT word, pos FROM seq0 WHERE pos <= 512
), vocab AS (
  SELECT word, row_number() OVER (ORDER BY word) - 1 AS wid
  FROM (SELECT DISTINCT word FROM seq)
), s AS (
  SELECT q.pos, q.word, v.wid
  FROM seq q JOIN vocab v ON v.word = q.word
), nn AS (
  SELECT count(*) AS n FROM s
), lv AS (
  SELECT l.l, s.pos, s.wid,
         s.wid // CAST(power(2, 5 - l.l) AS BIGINT) AS node,
         (s.wid // CAST(power(2, 4 - l.l) AS BIGINT)) % 2 AS bit,
         row_number() OVER (PARTITION BY l.l,
             s.wid // CAST(power(2, 5 - l.l) AS BIGINT)
             ORDER BY s.pos) AS npos
  FROM s, (SELECT unnest(range(0, 5)) AS l) l
), freq AS (
  SELECT s.wid, s.word, count(*) AS cnt
  FROM s GROUP BY s.wid, s.word
), pw AS (
  SELECT word, wid, rf FROM (
    SELECT word, wid, row_number() OVER (ORDER BY cnt DESC, word)
      AS rf
    FROM freq)
  WHERE rf IN (1, 3, 7, 15)
), probes AS (
  SELECT p.word, p.wid, i.i
  FROM pw p, LATERAL (
    SELECT (SELECT n FROM nn) // 4 AS i
    UNION ALL SELECT (SELECT n FROM nn) // 2) i
), de AS (
  SELECT pr.word, pr.wid, pr.i,
         d0.c AS i1, d1.c AS i2, d2.c AS i3, d3.c AS i4, d4.c AS i5
  FROM probes pr
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 0
            AND lv.node = pr.wid // 32
            AND lv.npos <= pr.i
            AND lv.bit = (pr.wid // 16) % 2) AS c) d0
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 1
            AND lv.node = pr.wid // 16
            AND lv.npos <= d0.c
            AND lv.bit = (pr.wid // 8) % 2) AS c) d1
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 2
            AND lv.node = pr.wid // 8
            AND lv.npos <= d1.c
            AND lv.bit = (pr.wid // 4) % 2) AS c) d2
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 3
            AND lv.node = pr.wid // 4
            AND lv.npos <= d2.c
            AND lv.bit = (pr.wid // 2) % 2) AS c) d3
  CROSS JOIN LATERAL (
    SELECT (SELECT count(*) FROM lv WHERE lv.l = 4
            AND lv.node = pr.wid // 2
            AND lv.npos <= d3.c
            AND lv.bit = pr.wid % 2) AS c) d4
)
SELECT d.word, CAST(d.wid AS INTEGER) AS wid, CAST(d.i AS BIGINT) AS i,
       CAST(d.i1 AS BIGINT) AS l1_rank, CAST(d.i2 AS BIGINT) AS l2_rank,
       CAST(d.i3 AS BIGINT) AS l3_rank, CAST(d.i4 AS BIGINT) AS l4_rank,
       CAST(d.i5 AS BIGINT) AS wavelet_rank,
       CAST((SELECT count(*) FROM s
             WHERE s.word = d.word AND s.pos <= d.i) AS BIGINT)
         AS direct_rank,
       d.i5 = (SELECT count(*) FROM s
               WHERE s.word = d.word AND s.pos <= d.i) AS rank_ok,
       CAST((SELECT n FROM nn) AS BIGINT) AS n,
       CAST((SELECT count(*) FROM vocab) AS INTEGER) AS vocab_size
FROM de d
"""


@register("text_wavelet_tree_rank", _WAVELET_SQL)
def text_wavelet_tree_rank(spark, sf_dir):
    """Wavelet tree rank queries (Grossi-Gupta-Vitter — the succinct
    sequence index behind FM-index Occ tables and compressed column
    stores) over the corpus's first 512 words mapped to 5-bit
    alphabetical ids: the tree needs NO iterative construction because
    stable bit-partitioning preserves original order inside every node,
    so each depth's (node, position, bit) table is a closed form — one
    row_number window per depth over the id's high bits. rank(word, i)
    then descends the five levels with the classic recurrence iₗ₊₁ =
    rank_bit(node, iₗ), every intermediate interval position emitted,
    and the result pinned against a direct windowed count on the raw
    sequence — for eight probes spanning frequent and rare words at two
    depths. The level tables are the distributed part (pure windows by
    (depth, node), the per-partition shape of a column-store index
    build); each probe's descent is five O(1) lookups. Completes the
    succinct-structure family beside Elias-Fano and the BWT trio.
    Engine: bounded driver replay over the same 512-word sequence;
    oracle: correlated-count descent through chained LATERALs."""
    rows = (_t(spark, sf_dir, "documents")
            .select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("wp", "word"))
            .filter(F.col("word") != "")
            .select("doc_id", "wp", "word")
            .orderBy("doc_id", "wp").limit(512).collect())
    seqw = [r["word"] for r in rows]
    n = len(seqw)
    vocab = {w: i for i, w in enumerate(sorted(set(seqw)))}
    from collections import Counter
    cnt = Counter(seqw)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    picks = [ranked[j][0] for j in (0, 2, 6, 14) if j < len(ranked)]
    out = []
    for w in picks:
        wid = vocab[w]
        for i in (n // 4, n // 2):
            ip = i
            inter = []
            for l in range(5):
                node = wid >> (5 - l)
                bit = (wid >> (4 - l)) & 1
                node_elems = [x for x in seqw
                              if vocab[x] >> (5 - l) == node]
                ip = sum(1 for x in node_elems[:ip]
                         if (vocab[x] >> (4 - l)) & 1 == bit)
                inter.append(ip)
            direct = sum(1 for x in seqw[:i] if x == w)
            out.append((w, wid, i, inter[0], inter[1], inter[2],
                        inter[3], inter[4], direct,
                        inter[4] == direct, n, len(vocab)))
    return spark.createDataFrame(
        out, "word string, wid int, i long, l1_rank long, l2_rank long,"
             " l3_rank long, l4_rank long, wavelet_rank long,"
             " direct_rank long, rank_ok boolean, n long,"
             " vocab_size int")


_GOLOMB_SQL = """
WITH pid AS (
  SELECT event_id AS x,
         row_number() OVER (ORDER BY event_id) AS rn
  FROM events WHERE event_type = 'purchase'
), gaps AS (
  SELECT p.rn, p.x,
         p.x - coalesce(lag(p.x) OVER (ORDER BY p.x), -1) AS g
  FROM pid p
), stats AS (
  SELECT count(*) AS n, sum(g) AS totg, max(g) AS maxg FROM gaps
), scan AS (
  SELECT b.b,
         (SELECT sum(((g.g - 1) // (CAST(1 AS BIGINT) << b.b)) + 1
                     + b.b) FROM gaps g) AS bits
  FROM (SELECT unnest(range(0, 17)) AS b) b
), best AS (
  SELECT b AS bstar, bits AS best_bits
  FROM scan ORDER BY bits, b LIMIT 1
), heur AS (
  SELECT greatest(length(bin(GREATEST(
           (SELECT totg FROM stats) * 693
           // ((SELECT n FROM stats) * 1000), 1))) - 1, 0) AS bh
), hbits AS (
  SELECT (SELECT sum(((g.g - 1) // (CAST(1 AS BIGINT)
             << (SELECT bh FROM heur))) + 1 + (SELECT bh FROM heur))
          FROM gaps g) AS heur_bits
), plain AS (
  SELECT (SELECT n FROM stats)
         * length(bin(GREATEST((SELECT maxg FROM stats), 1)))
           AS plain_bits
)
SELECT CAST(s.b AS INTEGER) AS b, CAST(s.bits AS BIGINT) AS total_bits,
       CAST((SELECT bstar FROM best) AS INTEGER) AS b_star,
       CAST((SELECT best_bits FROM best) AS BIGINT) AS best_bits,
       s.bits >= (SELECT best_bits FROM best) AS bstar_optimal_ok,
       CAST((SELECT bh FROM heur) AS INTEGER) AS b_heuristic,
       CAST((SELECT heur_bits FROM hbits) AS BIGINT) AS heuristic_bits,
       (SELECT best_bits FROM best) <= (SELECT heur_bits FROM hbits)
         AS best_le_heuristic,
       CAST((SELECT plain_bits FROM plain) AS BIGINT) AS plain_bits,
       (SELECT best_bits FROM best) < (SELECT plain_bits FROM plain)
         AS beats_plain,
       CAST((SELECT n FROM stats) AS BIGINT) AS n_gaps
FROM scan s
"""


@register("search_golomb_gaps", _GOLOMB_SQL)
def search_golomb_gaps(spark, sf_dir):
    """Golomb-Rice coding of the purchase posting list's gaps — the
    inverted-index gap compression that preceded Elias-Fano (and still
    backs Lucene doc deltas): for every Rice parameter b in 0..16 the
    exact encoded size Σ((g−1)>>b + 1 + b) is computed in ONE
    conditional-aggregate scan (no per-b passes over data — the scan
    is a 17-row broadcast against the gap table), the optimal b* is
    the argmin with every row pinned ≥ best (bstar_optimal_ok), the
    classic heuristic b ≈ log2(0.69·mean_gap) — integer bit-length
    math, no logs — rides beside it pinned never better than the
    exhaustive optimum, and the whole code is pinned smaller than
    fixed-width max-gap encoding. Gaps come from one lag window over
    the filtered postings; everything else is aggregate arithmetic —
    the per-term shape of an index compressor at any scale."""
    e = _t(spark, sf_dir, "events")
    pid = (e.filter(F.col("event_type") == "purchase")
           .select(F.col("event_id").alias("x")))
    gaps = pid.select(
        (F.col("x") - F.coalesce(
            F.lag("x").over(Window.orderBy("x")), F.lit(-1)))
        .alias("g")).persist()
    st = gaps.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("g").alias("totg"),
                  F.max("g").alias("maxg")).collect()[0]
    n, totg, maxg = int(st["n"]), int(st["totg"]), int(st["maxg"])
    bs = spark.range(0, 17).select(F.col("id").cast("int").alias("b"))
    scan = (bs.crossJoin(gaps)
            .groupBy("b")
            .agg(F.sum(F.expr(
                "((g - 1) div shiftleft(CAST(1 AS BIGINT), b)) + 1 + b"))
                .alias("bits")))
    rows = {int(r["b"]): int(r["bits"]) for r in scan.collect()}
    bstar = min(rows, key=lambda b: (rows[b], b))
    bh = max((totg * 693 // (n * 1000)).bit_length() - 1, 0)
    heur_bits = rows[bh]
    plain_bits = n * max(maxg.bit_length(), 1)
    out = [(b, bits, bstar, rows[bstar], bits >= rows[bstar], bh,
            heur_bits, rows[bstar] <= heur_bits, plain_bits,
            rows[bstar] < plain_bits, n)
           for b, bits in sorted(rows.items())]
    return spark.createDataFrame(
        out, "b int, total_bits long, b_star int, best_bits long,"
             " bstar_optimal_ok boolean, b_heuristic int,"
             " heuristic_bits long, best_le_heuristic boolean,"
             " plain_bits long, beats_plain boolean, n_gaps long")


_TWOSAT_SQL = """
WITH RECURSIVE vocab AS (
  SELECT word, row_number() OVER (ORDER BY cnt DESC, word) - 1 AS v
  FROM (SELECT word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY word)
  QUALIFY v < 12
), cl AS (
  SELECT d.doc_id AS cid,
         CAST(concat('0x', substr(md5('2sa:' ||
           CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 12 AS a,
         (CAST(concat('0x', substr(md5('2sa:' ||
            CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 12
          + 1 + CAST(concat('0x', substr(md5('2sb:' ||
            CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 11) % 12
           AS b,
         d.text
  FROM documents d WHERE d.doc_id < 20
), lits AS (
  SELECT c.cid, c.a, c.b,
         CASE WHEN position(' ' || va.word || ' '
              IN ' ' || c.text || ' ') > 0 THEN 1 ELSE 0 END AS pa,
         CASE WHEN position(' ' || vb.word || ' '
              IN ' ' || c.text || ' ') > 0 THEN 1 ELSE 0 END AS pb
  FROM cl c JOIN vocab va ON va.v = c.a JOIN vocab vb ON vb.v = c.b
), edges AS (
  -- literal node id: 2*var + (1 if positive else 0 for the NEGATION?)
  -- node(l) = 2*v + pol (pol 1 = positive literal x_v)
  -- clause (l1 or l2): not-l1 -> l2 and not-l2 -> l1
  SELECT 2 * a + (1 - pa) AS u, 2 * b + pb AS w FROM lits
  UNION
  SELECT 2 * b + (1 - pb), 2 * a + pa FROM lits
), reach AS (
  SELECT u, w FROM edges
  UNION
  SELECT r.u, e.w FROM reach r JOIN edges e ON e.u = r.w
), reach2 AS (
  SELECT u, w FROM reach
  UNION
  SELECT CAST(n AS BIGINT), CAST(n AS BIGINT)
  FROM (SELECT unnest(range(0, 24)) AS n)
), comp AS (
  SELECT a.u AS node, min(a.w) AS c
  FROM reach2 a JOIN reach2 b ON b.u = a.w AND b.w = a.u
  GROUP BY a.u
), rc AS (
  SELECT c.c AS comp, count(DISTINCT c2.c) AS rcount
  FROM comp c
  JOIN reach2 r ON r.u = c.node
  JOIN comp c2 ON c2.node = r.w
  GROUP BY c.c
), topo AS (
  SELECT comp, row_number() OVER (ORDER BY rcount DESC, comp) AS pos
  FROM rc
), assign AS (
  SELECT v.v, v.word,
         tp.pos > tn.pos AS val,
         cp.c = cn.c AS contradiction
  FROM vocab v
  JOIN comp cp ON cp.node = 2 * v.v + 1
  JOIN comp cn ON cn.node = 2 * v.v
  JOIN topo tp ON tp.comp = cp.c
  JOIN topo tn ON tn.comp = cn.c
), satq AS (
  SELECT NOT bool_or(contradiction) AS satisfiable FROM assign
), astr AS (
  SELECT string_agg('x' || CAST(v AS VARCHAR) || '='
                    || CASE WHEN val THEN 'T' ELSE 'F' END, ','
                    ORDER BY v) AS assignment
  FROM assign
), chk AS (
  SELECT l.cid, l.a, l.b, l.pa, l.pb,
         (CASE WHEN l.pa = 1 THEN aa.val ELSE NOT aa.val END)
         OR (CASE WHEN l.pb = 1 THEN ab.val ELSE NOT ab.val END)
           AS clause_sat
  FROM lits l
  JOIN assign aa ON aa.v = l.a
  JOIN assign ab ON ab.v = l.b
)
SELECT CAST(c.cid AS INTEGER) AS clause_id,
       CAST(c.a AS INTEGER) AS var_a, CAST(c.pa AS INTEGER) AS pol_a,
       CAST(c.b AS INTEGER) AS var_b, CAST(c.pb AS INTEGER) AS pol_b,
       c.clause_sat,
       (SELECT satisfiable FROM satq) AS satisfiable,
       NOT (SELECT satisfiable FROM satq) OR c.clause_sat
         AS certificate_ok,
       (SELECT assignment FROM astr) AS assignment,
       CAST((SELECT count(DISTINCT comp) FROM topo) AS INTEGER)
         AS n_components
FROM chk c
"""


@register("kg_2sat_implication", _TWOSAT_SQL)
def kg_2sat_implication(spark, sf_dir):
    """2-SAT solved by the implication-graph SCC method
    (Aspvall-Plass-Tarjan) over DATA-DERIVED clauses: variables are the
    12 most frequent corpus words, and each of the first 20 documents
    contributes one clause whose two md5-chosen variables take the
    polarity of the word's actual presence in that document. Each
    clause (l1 ∨ l2) plants the two implications ¬l1→l2, ¬l2→l1;
    strongly connected components come from pairwise reachability
    (transitive closure as a recursive join — 24 nodes, the bounded
    condensation of the lexicon family); a variable sharing a component
    with its negation certifies UNSAT, otherwise the classic rule —
    x is true iff comp(x) sits LATER than comp(¬x) in a topological
    order (reach-count descending is provably topo-consistent since
    A→B forces a strictly larger reachable set) — produces an
    assignment whose validity is PINNED per clause: certificate_ok
    demands every clause evaluate true under the produced assignment
    whenever satisfiable (the solver cannot bluff — its output is
    checked against the formula itself). Engine: bounded driver mirror
    — the 24-node closure is planner-scale metadata; the corpus-scale
    stages are the vocabulary count and the per-document polarity
    probes."""
    docs = _t(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.col("w") != "")
             .groupBy("w").count().orderBy(F.desc("count"), "w")
             .limit(12).collect())
    vocab = {i: r["w"] for i, r in enumerate(words)}
    import hashlib as _h

    def h60(s):
        return int(_h.md5(s.encode()).hexdigest()[:15], 16)
    drows = (docs.filter(F.col("doc_id") < 20)
             .select("doc_id", "text").collect())
    clauses = []
    for r in sorted(drows, key=lambda r: r["doc_id"]):
        d = int(r["doc_id"])
        a = h60(f"2sa:{d}") % 12
        b = (a + 1 + h60(f"2sb:{d}") % 11) % 12
        txt = f" {r['text']} "
        pa = 1 if f" {vocab[a]} " in txt else 0
        pb = 1 if f" {vocab[b]} " in txt else 0
        clauses.append((d, a, pa, b, pb))
    edges = set()
    for _, a, pa, b, pb in clauses:
        edges.add((2 * a + (1 - pa), 2 * b + pb))
        edges.add((2 * b + (1 - pb), 2 * a + pa))
    reach = {(n, n) for n in range(24)} | set(edges)
    while True:
        new = reach | {(u, w2) for (u, w) in reach
                       for (w1, w2) in edges if w1 == w}
        if new == reach:
            break
        reach = new
    comp = {n: min(w for w in range(24)
                   if (n, w) in reach and (w, n) in reach)
            for n in range(24)}
    comps = sorted(set(comp.values()))
    rcount = {c: len({comp[w] for n in range(24) if comp[n] == c
                      for (u, w) in reach if u == n})
              for c in comps}
    pos = {c: i + 1 for i, c in enumerate(
        sorted(comps, key=lambda c: (-rcount[c], c)))}
    contradiction = any(comp[2 * v] == comp[2 * v + 1]
                        for v in range(12))
    satisfiable = not contradiction
    val = {v: pos[comp[2 * v + 1]] > pos[comp[2 * v]]
           for v in range(12)}
    astr = ",".join(f"x{v}=" + ("T" if val[v] else "F")
                    for v in range(12))
    rows = []
    for cid, a, pa, b, pb in clauses:
        sat = (val[a] if pa else not val[a]) or \
              (val[b] if pb else not val[b])
        rows.append((cid, a, pa, b, pb, sat, satisfiable,
                     (not satisfiable) or sat, astr, len(comps)))
    return spark.createDataFrame(
        rows, "clause_id int, var_a int, pol_a int, var_b int,"
              " pol_b int, clause_sat boolean, satisfiable boolean,"
              " certificate_ok boolean, assignment string,"
              " n_components int")


_CLOSEST_PAIR_SQL = """
WITH pts AS (
  SELECT user_id AS id,
         CAST(concat('0x', substr(md5('cpx:' || CAST(user_id AS VARCHAR)), 1, 5))
              AS BIGINT) AS x,
         CAST(concat('0x', substr(md5('cpy:' || CAST(user_id AS VARCHAR)), 1, 5))
              AS BIGINT) AS y
  FROM (SELECT DISTINCT user_id FROM events
        ORDER BY user_id LIMIT 400)
), brute AS (
  SELECT min((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
           AS bm,
         count(*) AS n_total_pairs
  FROM pts a JOIN pts b ON a.id < b.id
), coarse AS (
  SELECT min((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
           AS d0
  FROM pts a JOIN pts b
    ON a.id < b.id AND a.x // 65536 = b.x // 65536
   AND a.y // 65536 = b.y // 65536
), bound AS (
  SELECT coalesce((SELECT d0 FROM coarse), (SELECT bm FROM brute))
           AS d0,
         (SELECT d0 FROM coarse) IS NOT NULL AS coarse_hit
), cells AS (
  SELECT p.*, b.d0,
         CAST(floor(sqrt(CAST(greatest(b.d0, 1) AS DOUBLE))) AS BIGINT)
           + 1 AS c
  FROM pts p CROSS JOIN bound b
), cand AS (
  SELECT a.id AS ida, b.id AS idb,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2,
         abs(a.x // a.c - b.x // b.c) <= 1
           AND abs(a.y // a.c - b.y // b.c) <= 1 AS adjacent
  FROM cells a JOIN cells b
    ON a.id < b.id
   AND abs(a.x // a.c - b.x // b.c) <= 1
   AND abs(a.y // a.c - b.y // b.c) <= 1
), win AS (
  SELECT ida, idb, d2, adjacent,
         row_number() OVER (ORDER BY d2, ida, idb) AS rn,
         count(*) OVER () AS n_cand
  FROM cand
)
SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_points,
       CAST(b.d0 AS BIGINT) AS coarse_bound_d2,
       b.coarse_hit,
       CAST((SELECT min(c) FROM cells) AS BIGINT) AS cell_size,
       CAST(w.n_cand AS BIGINT) AS n_candidate_pairs,
       CAST(br.n_total_pairs AS BIGINT) AS n_total_pairs,
       w.n_cand <= br.n_total_pairs AS candidates_pruned,
       CAST(w.ida AS BIGINT) AS pair_a, CAST(w.idb AS BIGINT) AS pair_b,
       CAST(w.d2 AS BIGINT) AS grid_min_d2,
       CAST(br.bm AS BIGINT) AS brute_min_d2,
       w.d2 = br.bm AS grid_exact,
       w.adjacent AS winner_adjacent
FROM win w CROSS JOIN bound b CROSS JOIN brute br
WHERE w.rn = 1
"""


@register("ann_closest_pair_grid", _CLOSEST_PAIR_SQL)
def ann_closest_pair_grid(spark, sf_dir):
    """Closest pair of points by grid blocking (the Rabin/Khuller-
    Matias idea that makes closest-pair linear-time and, here, the
    join-based form a distributed engine actually runs): 2-D points
    are 20-bit md5-spread coordinates per user; a COARSE pass takes
    the best within-cell distance d₀ on a fixed 16×16 grid (falling
    back honestly to the global minimum when no coarse cell holds two
    points — small corpora), then the FINE pass sets cell size
    c = ⌊√d₀⌋+1 so any pair closer than d₀ must lie in 3×3-adjacent
    cells, and only those candidate pairs are scored. Pinned: the
    grid answer equals the brute-force minimum (grid_exact — the
    correctness theorem of the blocking bound), the winning pair is
    cell-adjacent (winner_adjacent), and the candidate count never
    exceeds the all-pairs count (candidates_pruned; at real scale it
    is orders of magnitude below n²/2 — the brute column here is the
    test-scale oracle baseline, disclosed). All integer arithmetic:
    squared distances < 2⁴¹ — exact in int64 in both engines; the
    cell join is an equi-ish band join on cell ids, the shape that
    shards across executors at 10⁹ points."""
    ids = (_t(spark, sf_dir, "events").select("user_id").distinct()
           .orderBy("user_id").limit(400))
    pts = ids.select(
        F.col("user_id").alias("id"),
        F.conv(F.substring(F.md5(F.concat(
            F.lit("cpx:"), F.col("user_id").cast("string"))), 1, 5),
            16, 10).cast("long").alias("x"),
        F.conv(F.substring(F.md5(F.concat(
            F.lit("cpy:"), F.col("user_id").cast("string"))), 1, 5),
            16, 10).cast("long").alias("y"))
    a = pts.select(F.col("id").alias("ida"), F.col("x").alias("xa"),
                   F.col("y").alias("ya"))
    b = pts.select(F.col("id").alias("idb"), F.col("x").alias("xb"),
                   F.col("y").alias("yb"))
    d2 = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    brute = (a.join(b, F.col("ida") < F.col("idb"))
             .agg(F.min(d2).alias("bm"),
                  F.count(F.lit(1)).alias("n_total_pairs")))
    coarse = (a.join(b, (F.col("ida") < F.col("idb"))
                     & (F.expr("xa div 65536") == F.expr("xb div 65536"))
                     & (F.expr("ya div 65536") == F.expr("yb div 65536")))
              .agg(F.min(d2).alias("d0c")))
    bound = (coarse.crossJoin(brute)
             .select(F.coalesce("d0c", "bm").alias("d0"),
                     F.col("d0c").isNotNull().alias("coarse_hit")))
    cells = (pts.crossJoin(F.broadcast(bound))
             .withColumn("c", F.floor(F.sqrt(
                 F.greatest(F.col("d0"), F.lit(1)).cast("double")))
                 .cast("long") + 1)
             .withColumn("cx", F.expr("x div c"))
             .withColumn("cy", F.expr("y div c")))
    ca = cells.select(F.col("id").alias("ida"), F.col("x").alias("xa"),
                      F.col("y").alias("ya"), F.col("cx").alias("cxa"),
                      F.col("cy").alias("cya"))
    cb = cells.select(F.col("id").alias("idb"), F.col("x").alias("xb"),
                      F.col("y").alias("yb"), F.col("cx").alias("cxb"),
                      F.col("cy").alias("cyb"))
    cand = (ca.join(cb, (F.col("ida") < F.col("idb"))
                    & (F.abs(F.col("cxa") - F.col("cxb")) <= 1)
                    & (F.abs(F.col("cya") - F.col("cyb")) <= 1))
            .select("ida", "idb", d2.alias("d2"),
                    ((F.abs(F.col("cxa") - F.col("cxb")) <= 1)
                     & (F.abs(F.col("cya") - F.col("cyb")) <= 1))
                    .alias("adjacent")))
    win = (cand.withColumn("rn", F.row_number().over(
        Window.orderBy("d2", "ida", "idb")))
        .withColumn("n_cand", F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1)))))
    npts = pts.agg(F.count(F.lit(1)).alias("n_points"))
    csz = cells.agg(F.min("c").alias("cell_size"))
    return (win.filter(F.col("rn") == 1)
            .crossJoin(F.broadcast(bound))
            .crossJoin(F.broadcast(brute))
            .crossJoin(F.broadcast(npts))
            .crossJoin(F.broadcast(csz))
            .select(F.col("n_points").cast("long"),
                    F.col("d0").cast("long").alias("coarse_bound_d2"),
                    "coarse_hit",
                    F.col("cell_size").cast("long"),
                    F.col("n_cand").cast("long")
                    .alias("n_candidate_pairs"),
                    F.col("n_total_pairs").cast("long"),
                    (F.col("n_cand") <= F.col("n_total_pairs"))
                    .alias("candidates_pruned"),
                    F.col("ida").cast("long").alias("pair_a"),
                    F.col("idb").cast("long").alias("pair_b"),
                    F.col("d2").cast("long").alias("grid_min_d2"),
                    F.col("bm").cast("long").alias("brute_min_d2"),
                    (F.col("d2") == F.col("bm")).alias("grid_exact"),
                    F.col("adjacent").alias("winner_adjacent")))


_CANON_HUFF_SQL = _HUFF_CORE + """
, lens AS (
  SELECT v.w, v.c, CAST(f.depths[v.i] AS BIGINT) AS l
  FROM voc v, fin f
), mxl AS (
  SELECT max(l) AS maxl FROM lens
), hist AS (
  SELECT l, count(*) AS cnt FROM lens GROUP BY l
), base AS (
  SELECT d.l,
         coalesce(sum(h.cnt * (CAST(1 AS BIGINT)
                  << CAST(d.l - h.l AS INTEGER))), 0) AS start_code
  FROM (SELECT DISTINCT l FROM lens) d
  LEFT JOIN hist h ON h.l < d.l
  GROUP BY d.l
), codes AS (
  SELECT le.w, le.c, le.l,
         b.start_code
           + row_number() OVER (PARTITION BY le.l ORDER BY le.w) - 1
           AS code
  FROM lens le JOIN base b ON b.l = le.l
), iv AS (
  SELECT c.w, c.c, c.l, c.code, m.maxl,
         c.code << CAST(m.maxl - c.l AS INTEGER) AS iv_start,
         (c.code + 1) << CAST(m.maxl - c.l AS INTEGER) AS iv_end
  FROM codes c CROSS JOIN mxl m
), tile AS (
  SELECT iv.*,
         coalesce(lag(iv_end) OVER (ORDER BY iv_start), 0)
           AS prev_end,
         count(*) OVER () AS vsz,
         max(iv_end) OVER () AS max_end
  FROM iv
)
SELECT w AS word, CAST(c AS BIGINT) AS freq,
       CAST(l AS INTEGER) AS code_len,
       CAST(code AS BIGINT) AS code,
       lpad(bin(CAST(code AS BIGINT)), CAST(l AS INTEGER), '0')
         AS code_bits,
       CAST(iv_start AS BIGINT) AS iv_start,
       CAST(iv_end AS BIGINT) AS iv_end,
       iv_start = prev_end AS tiles_ok,
       max_end = (CAST(1 AS BIGINT) << CAST(maxl AS INTEGER))
         AS complete_ok,
       CAST(maxl AS INTEGER) AS max_len,
       CAST(vsz AS INTEGER) AS vocab_size
FROM tile
"""


@register("text_canonical_huffman", _CANON_HUFF_SQL)
def text_canonical_huffman(spark, sf_dir):
    """Canonical Huffman code assignment (the form every real decoder
    — DEFLATE, JPEG, Zstandard FSE headers — actually ships, because
    lengths alone reconstruct the codebook): from the same tie-broken
    Huffman lengths as text_huffman_lengths, each symbol's code value
    falls out in CLOSED FORM — code(s) = Σ_{l<l_s} cnt(l)·2^(l_s−l) +
    rank-within-length — one length histogram, one conditional join,
    one window; no tree walk, no sequential next-code scan, fully
    distributed over the vocabulary. Prefix-freeness AND completeness
    are pinned together by the interval-tiling theorem: left-justified
    to L = max length, the code intervals [code·2^(L−l), (code+1)·
    2^(L−l)) of a canonical prefix code tile [0, 2^L) exactly — one
    lag window checks every boundary (tiles_ok) and the global end
    pins 2^L (complete_ok); any collision, gap or Kraft slip breaks a
    boundary. Engine: driver merge loop for lengths (the
    vocabulary-bounded BPE discipline) + distributed canonical
    assignment; oracle: the list-state merge recursion + the same
    closed form."""
    d = _t(spark, sf_dir, "documents")
    wc = (d.select(F.explode(F.split("text", " ")).alias("w"))
          .filter(F.col("w") != "")
          .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
          .orderBy("w").collect())
    words = [r["w"] for r in wc]
    freqs = [int(r["c"]) for r in wc]
    depths = _huffman_depths(freqs)
    maxl = max(depths)
    assert maxl <= 62, "code intervals would overflow int64"
    lens = spark.createDataFrame(
        list(zip(words, freqs, [int(x) for x in depths])),
        "w string, c long, l long")
    hist = lens.groupBy("l").agg(F.count(F.lit(1)).alias("cnt"))
    base = (hist.select(F.col("l").alias("dl")).distinct()
            .join(hist.select(F.col("l").alias("hl"), "cnt"),
                  F.col("hl") < F.col("dl"), "left")
            .groupBy("dl")
            .agg(F.coalesce(F.sum(F.expr(
                "cnt * shiftleft(CAST(1 AS BIGINT),"
                " CAST(dl - hl AS INT))")), F.lit(0))
                .alias("start_code")))
    codes = (lens.join(base, lens.l == base.dl)
             .withColumn("code", F.col("start_code")
                         + F.row_number().over(
                             Window.partitionBy("l").orderBy("w")) - 1))
    iv = (codes
          .withColumn("iv_start",
                      F.expr(f"shiftleft(code, CAST({maxl} - l AS INT))"))
          .withColumn("iv_end", F.expr(
              f"shiftleft(code + 1, CAST({maxl} - l AS INT))")))
    tile = (iv.withColumn("prev_end", F.coalesce(
        F.lag("iv_end").over(Window.orderBy("iv_start")), F.lit(0)))
        .withColumn("vsz", F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))))
        .withColumn("max_end", F.max("iv_end").over(
            Window.partitionBy(F.lit(1)))))
    return tile.select(
        F.col("w").alias("word"), F.col("c").cast("long").alias("freq"),
        F.col("l").cast("int").alias("code_len"),
        F.col("code").cast("long").alias("code"),
        F.expr("lpad(bin(code), CAST(l AS INT), '0')")
        .alias("code_bits"),
        F.col("iv_start").cast("long"), F.col("iv_end").cast("long"),
        (F.col("iv_start") == F.col("prev_end")).alias("tiles_ok"),
        (F.col("max_end") == F.lit(1 << maxl)).alias("complete_ok"),
        F.lit(maxl).cast("int").alias("max_len"),
        F.col("vsz").cast("int").alias("vocab_size"))


_KMP_SQL = """
WITH s0 AS (
  SELECT substr(lower(string_agg(text, ' ' ORDER BY doc_id)), 1, 120)
           AS s
  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 2)
), nn AS (
  SELECT length(s) AS n FROM s0
), pos AS (
  SELECT CAST(unnest(range(1, (SELECT n FROM nn) + 1)) AS BIGINT) AS i
), borders AS (
  SELECT p.i, k.k
  FROM pos p
  JOIN (SELECT CAST(unnest(range(0, 120)) AS BIGINT) AS k) k
    ON k.k < p.i
   AND (k.k = 0 OR substr((SELECT s FROM s0), 1,
                          CAST(k.k AS INTEGER))
        = substr((SELECT s FROM s0),
                 CAST(p.i - k.k + 1 AS INTEGER),
                 CAST(k.k AS INTEGER)))
), pif AS (
  SELECT i, max(k) AS pi FROM borders GROUP BY i
)
SELECT CAST(p.i AS INTEGER) AS i,
       substr((SELECT s FROM s0), CAST(p.i AS INTEGER), 1) AS ch,
       CAST(p.pi AS INTEGER) AS pi,
       CAST(p.i - p.pi AS INTEGER) AS period,
       (p.i % (p.i - p.pi)) = 0 AS full_period,
       p.pi <= coalesce(lag(p.pi) OVER (ORDER BY p.i), 0) + 1
         AS chain_step_ok,
       p.pi < p.i AS proper_ok,
       CAST((SELECT n FROM nn) AS INTEGER) AS n
FROM pif p
"""


@register("text_kmp_prefix_function", _KMP_SQL)
def text_kmp_prefix_function(spark, sf_dir):
    """The KMP prefix (failure) function, two definitions forced to
    agree: the ENGINE runs the genuine Knuth-Morris-Pratt recurrence
    over the corpus prefix (k := π[i−1]; while k > 0 and s[i] ≠
    s[k+1]: k := π[k] — the amortized-linear failure-chain walk),
    while the ORACLE computes the DEFINITION — π[i] = the longest
    proper border, max k < i with prefix(k) = suffix-ending-at-i(k) —
    by a brute position×length substring join. Gate hash-equality is
    a machine-checked proof the recurrence computes the maximal
    border on this text (the correctness argument of KMP). Side
    theorems ride along pinned: π[i] < i (properness), the
    chain-growth bound π[i] ≤ π[i−1]+1 (why KMP is linear), and the
    periodicity column i − π[i] with its divisibility flag (the
    fundamental period when full_period holds — Fine-Wilf territory).
    Input is the lowercased 120-char prefix of the first two
    documents, the same planner-scale discipline as the BWT/FM rows;
    at scale the per-document failure function is a map-side Arrow
    batch per partition."""
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", "text").orderBy("doc_id").limit(2)
            .collect())
    s = " ".join(r["text"] for r in docs).lower()[:120]
    n = len(s)
    pi = [0] * (n + 1)  # 1-indexed
    for i in range(2, n + 1):
        k = pi[i - 1]
        while k > 0 and s[i - 1] != s[k]:
            k = pi[k]
        if s[i - 1] == s[k]:
            k += 1
        pi[i] = k
    out = []
    for i in range(1, n + 1):
        period = i - pi[i]
        prev = pi[i - 1] if i > 1 else 0
        out.append((i, s[i - 1], pi[i], period, i % period == 0,
                    pi[i] <= prev + 1, pi[i] < i, n))
    return spark.createDataFrame(
        out, "i int, ch string, pi int, period int,"
             " full_period boolean, chain_step_ok boolean,"
             " proper_ok boolean, n int")


_MANACHER_SQL = """
WITH s0 AS (
  SELECT substr(lower(string_agg(text, ' ' ORDER BY doc_id)), 1, 160)
           AS s
  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 2)
), nn AS (
  SELECT length(s) AS n FROM s0
), centers AS (
  SELECT CAST(unnest(range(1, 2 * (SELECT n FROM nn) + 2)) AS BIGINT)
           AS j
), cand AS (
  -- definitional: for transformed-center j, palindrome length p in
  -- the ORIGINAL string; p valid iff the span is a real palindrome
  SELECT c.j, p.p,
         CAST((c.j - p.p) // 2 + 1 AS INTEGER) AS st
  FROM centers c
  JOIN (SELECT CAST(unnest(range(0, 161)) AS BIGINT) AS p) p
    ON ((c.j % 2 = 0 AND p.p % 2 = 1)
        OR (c.j % 2 = 1 AND p.p % 2 = 0))
   AND c.j - p.p >= 1 AND c.j + p.p <= 2 * (SELECT n FROM nn) + 1
   AND (p.p = 0 OR substr((SELECT s FROM s0),
                          CAST((c.j - p.p) // 2 + 1 AS INTEGER),
                          CAST(p.p AS INTEGER))
        = reverse(substr((SELECT s FROM s0),
                         CAST((c.j - p.p) // 2 + 1 AS INTEGER),
                         CAST(p.p AS INTEGER))))
), pj AS (
  SELECT j, max(p) AS p FROM cand GROUP BY j
), rows_ AS (
  SELECT p.j,
         CASE WHEN p.j % 2 = 0 THEN 'char' ELSE 'gap' END AS kind,
         p.p AS pal_len,
         CAST((p.j - p.p) // 2 + 1 AS INTEGER) AS start_pos,
         substr((SELECT s FROM s0),
                CAST((p.j - p.p) // 2 + 1 AS INTEGER),
                CAST(p.p AS INTEGER)) AS pal,
         (p.j - p.p) // 2 < 1
           OR (p.j + p.p) // 2 + 1 > (SELECT n FROM nn)
           OR substr((SELECT s FROM s0),
                     CAST((p.j - p.p) // 2 AS INTEGER), 1)
              <> substr((SELECT s FROM s0),
                        CAST((p.j + p.p) // 2 + 1 AS INTEGER), 1)
           AS maximal_ok
  FROM pj p
), best AS (
  SELECT pal_len AS best_len, start_pos AS best_start
  FROM rows_ ORDER BY pal_len DESC, start_pos, j LIMIT 1
)
SELECT CAST(r.j AS INTEGER) AS j, r.kind,
       CAST(r.pal_len AS INTEGER) AS pal_len,
       r.start_pos, r.pal,
       r.pal = reverse(r.pal) AS is_pal_ok,
       r.maximal_ok,
       CAST(b.best_len AS INTEGER) AS best_len,
       b.best_start,
       CAST((SELECT n FROM nn) AS INTEGER) AS n
FROM rows_ r CROSS JOIN best b
"""


@register("text_manacher_palindromes", _MANACHER_SQL)
def text_manacher_palindromes(spark, sf_dir):
    """Manacher's algorithm (1975 — longest palindromic substring in
    linear time via the mirror trick) versus the DEFINITION: the
    ENGINE runs genuine Manacher over the separator-transformed
    corpus prefix — center/right-boundary tracking, each radius
    seeded from its mirror p[2C−j] clamped to the boundary, then
    explicit expansion — while the ORACLE computes every
    transformed-center's palindrome length definitionally (max p such
    that the spanned substring equals its own reverse, a center ×
    radius join). Gate hash-equality machine-checks the mirror
    argument on real text, center by center — all 2n+1 of them.
    Riding pins: every reported palindrome re-verified against its
    reverse (is_pal_ok), maximality pinned by boundary-or-mismatch at
    both extension characters (maximal_ok — the invariant that makes
    the expansion stop correctly), and the global longest palindrome
    with a total-order tiebreak. Same 160-char two-document prefix
    discipline as the KMP/BWT rows; at corpus scale this is a
    map-side per-document pass."""
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", "text").orderBy("doc_id").limit(2)
            .collect())
    s = " ".join(r["text"] for r in docs).lower()[:160]
    n = len(s)
    t = "#" + "#".join(s) + "#"          # length 2n+1
    m = len(t)
    p = [0] * (m + 1)                     # 1-based radii
    c = r = 0                             # center, right boundary
    for j in range(1, m + 1):
        if j < r:
            p[j] = min(r - j, p[2 * c - j])
        while (j - p[j] - 1 >= 1 and j + p[j] + 1 <= m
               and t[j - p[j] - 2] == t[j + p[j]]):
            p[j] += 1
        if j + p[j] > r:
            c, r = j, j + p[j]
    out = []
    for j in range(1, m + 1):
        pl = p[j]
        st = (j - pl) // 2 + 1
        pal = s[st - 1:st - 1 + pl]
        lo, hi = (j - pl) // 2, (j + pl) // 2 + 1
        maximal = lo < 1 or hi > n or s[lo - 1] != s[hi - 1]
        out.append((j, "char" if j % 2 == 0 else "gap", pl, st, pal,
                    pal == pal[::-1], maximal))
    best = max(out, key=lambda r_: (r_[2], -r_[3], -r_[0]))
    rows = [(j, k, pl, st, pal, ok, mx, best[2], best[3], n)
            for (j, k, pl, st, pal, ok, mx) in out]
    return spark.createDataFrame(
        rows, "j int, kind string, pal_len int, start_pos int,"
              " pal string, is_pal_ok boolean, maximal_ok boolean,"
              " best_len int, best_start int, n int")


_TANS_SQL = """
WITH RECURSIVE s0 AS (
  SELECT substr(lower(string_agg(text, ' ' ORDER BY doc_id)), 1, 160)
           AS s
  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 2)
), cls AS (
  SELECT i.i,
         CASE WHEN substr(s0.s, CAST(i.i AS INTEGER), 1) = ' ' THEN 0
              WHEN substr(s0.s, CAST(i.i AS INTEGER), 1)
                   IN ('a','e','i','o','u') THEN 1
              WHEN substr(s0.s, CAST(i.i AS INTEGER), 1)
                   BETWEEN 'a' AND 'z' THEN 2
              ELSE 3 END AS sym
  FROM s0, (SELECT CAST(unnest(range(1, 161)) AS BIGINT) AS i) i
), syms AS (
  SELECT v.s AS sym, coalesce(c.c, 0) AS c
  FROM (VALUES (0), (1), (2), (3)) v(s)
  LEFT JOIN (SELECT sym, count(*) AS c FROM cls GROUP BY sym) c
    ON c.sym = v.s
), tt AS (
  SELECT sum(c) AS t FROM syms
), base AS (
  SELECT sym, c, c * 16 // t AS b, (c * 16) % t AS fr FROM syms, tt
), plus AS (
  SELECT b.sym, b.c,
         b.b + CASE WHEN row_number() OVER (ORDER BY b.fr DESC, b.sym)
                         <= 16 - (SELECT sum(b2.b) FROM base b2)
                    THEN 1 ELSE 0 END AS f
  FROM base b
), zfix AS (
  SELECT count(*) AS z FROM plus WHERE c > 0 AND f = 0
), bigsym AS (
  SELECT sym FROM plus ORDER BY f DESC, sym LIMIT 1
), freq AS (
  SELECT p.sym,
         CASE WHEN p.c > 0 AND p.f = 0 THEN 1
              WHEN p.sym = (SELECT sym FROM bigsym)
              THEN p.f - (SELECT z FROM zfix)
              ELSE p.f END AS f,
         p.c
  FROM plus p
), cum AS (
  SELECT sym, f,
         coalesce(sum(f) OVER (ORDER BY sym ROWS BETWEEN UNBOUNDED
                               PRECEDING AND 1 PRECEDING), 0) AS lo
  FROM freq
), spread AS (
  SELECT (13 * k.k) % 16 AS slot, c.sym
  FROM (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS k) k
  JOIN cum c ON k.k >= c.lo AND k.k < c.lo + c.f
), ranks AS (
  SELECT slot, sym,
         row_number() OVER (PARTITION BY sym ORDER BY slot) - 1 AS rk
  FROM spread
), seq AS (
  SELECT i, sym FROM cls WHERE i <= 48
), enc(step, x, bits, nb, bval, sym, xs) AS (
  SELECT 0, CAST(16 AS BIGINT), '', CAST(0 AS BIGINT),
         CAST(0 AS BIGINT), CAST(-1 AS BIGINT), CAST(0 AS BIGINT)
  UNION ALL
  SELECT e.step + 1,
         16 + (SELECT r.slot FROM ranks r
               WHERE r.sym = q.sym AND r.rk = (e.x >> q.nb) - q.f),
         e.bits
           || CASE WHEN q.nb >= 1
                   THEN CAST((q.bval >> 0) & 1 AS VARCHAR) ELSE '' END
           || CASE WHEN q.nb >= 2
                   THEN CAST((q.bval >> 1) & 1 AS VARCHAR) ELSE '' END
           || CASE WHEN q.nb >= 3
                   THEN CAST((q.bval >> 2) & 1 AS VARCHAR) ELSE '' END
           || CASE WHEN q.nb >= 4
                   THEN CAST((q.bval >> 3) & 1 AS VARCHAR) ELSE '' END,
         q.nb, q.bval, q.sym, e.x >> q.nb
  FROM enc e, LATERAL (
    SELECT s.sym, f.f,
           length(bin(e.x // f.f)) - 1 AS nb,
           e.x & ((CAST(1 AS BIGINT)
                   << (length(bin(e.x // f.f)) - 1)) - 1) AS bval
    FROM seq s JOIN freq f ON f.sym = s.sym
    WHERE s.i = 48 - e.step
  ) q
  WHERE e.step < 48
), fin AS (
  SELECT x AS xf, bits AS bs FROM enc WHERE step = 48
), dec(j, x, bits, ok) AS (
  SELECT 0, (SELECT xf FROM fin), (SELECT bs FROM fin), TRUE
  UNION ALL
  SELECT d.j + 1,
         (q.xs << q.nb2)
           | (CASE WHEN q.nb2 >= 1 THEN CAST(substr(d.bits,
                CAST(length(d.bits) - q.nb2 + 1 AS INTEGER), 1)
                AS BIGINT) << 0 ELSE 0 END
              + CASE WHEN q.nb2 >= 2 THEN CAST(substr(d.bits,
                CAST(length(d.bits) - q.nb2 + 2 AS INTEGER), 1)
                AS BIGINT) << 1 ELSE 0 END
              + CASE WHEN q.nb2 >= 3 THEN CAST(substr(d.bits,
                CAST(length(d.bits) - q.nb2 + 3 AS INTEGER), 1)
                AS BIGINT) << 2 ELSE 0 END
              + CASE WHEN q.nb2 >= 4 THEN CAST(substr(d.bits,
                CAST(length(d.bits) - q.nb2 + 4 AS INTEGER), 1)
                AS BIGINT) << 3 ELSE 0 END),
         substr(d.bits, 1,
                CAST(length(d.bits) - q.nb2 AS INTEGER)),
         d.ok AND q.dsym = (SELECT sym FROM seq
                            WHERE i = d.j + 1)
  FROM dec d, LATERAL (
    SELECT rr.sym AS dsym, f.f + rr.rk AS xs,
           5 - length(bin(f.f + rr.rk)) AS nb2
    FROM ranks rr JOIN freq f ON f.sym = rr.sym
    WHERE rr.slot = d.x - 16
  ) q
  WHERE d.j < 48
), dfin AS (
  SELECT ok AND x = 16 AND bits = '' AS decode_ok
  FROM dec WHERE j = 48
), glb AS (
  SELECT (SELECT xf FROM fin) AS final_state,
         (SELECT sum(nb) FROM enc WHERE step > 0) AS total_bits,
         (SELECT decode_ok FROM dfin) AS decode_ok,
         (SELECT string_agg(CAST(sym AS VARCHAR), '' ORDER BY slot)
          FROM spread) AS table_str
)
SELECT CAST(e.step AS INTEGER) AS step,
       CAST(49 - e.step AS INTEGER) AS pos,
       CAST(e.sym AS INTEGER) AS symbol,
       CAST(f.f AS INTEGER) AS freq,
       CAST((e.xs << e.nb) + e.bval AS BIGINT) AS x_before,
       CAST(e.nb AS INTEGER) AS nb_bits,
       CAST(e.bval AS BIGINT) AS bits_val,
       CAST(e.xs AS BIGINT) AS x_small,
       CAST(e.x AS BIGINT) AS x_after,
       e.xs >= f.f AND e.xs < 2 * f.f AS range_ok,
       CAST(g.final_state AS BIGINT) AS final_state,
       CAST(g.total_bits AS BIGINT) AS total_bits,
       g.decode_ok, g.table_str
FROM enc e JOIN freq f ON f.sym = e.sym CROSS JOIN glb g
WHERE e.step > 0
"""


@register("text_tans_coding", _TANS_SQL)
def text_tans_coding(spark, sf_dir):
    """Table-based asymmetric numeral systems (tANS — Duda's entropy
    coder as implemented in Zstandard/FSE and LZFSE) built end to end
    on real text with EXACT integer arithmetic and a machine-checked
    round trip: characters of the 160-char corpus prefix collapse to
    a 4-symbol alphabet (space / vowel / consonant / other),
    frequencies normalize to table size M = 16 by largest-remainder
    with a deterministic min-1 repair, the symbol spread uses the
    FSE step 13 (coprime to 16, the (M>>1)+(M>>3)+3 rule), and the
    first 48 symbols are encoded in reverse through the state machine
    x ∈ [16, 32): shift out exactly bitlen(x div f) − 1 low bits
    (closed form, no inner loop), then jump to 16 + slot-of-rank
    (x' − f) in the symbol's spread positions. The ANS range
    invariant f ≤ x_small < 2f is pinned per step (range_ok), and
    DECODE — table lookup, rank inverse, refill to 5 bits — replays
    forward and must reproduce every original symbol, exhaust the
    bitstream, and restore the initial state (decode_ok): a full
    compression round trip proven inside both engines, with the
    spread table riding through the gate. Engine: driver replay;
    oracle: two chained scalar-state recursions with LATERAL steps."""
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", "text").orderBy("doc_id").limit(2)
            .collect())
    s = " ".join(r["text"] for r in docs).lower()[:160]

    def klass(ch):
        if ch == " ":
            return 0
        if ch in "aeiou":
            return 1
        if "a" <= ch <= "z":
            return 2
        return 3

    cl = [klass(ch) for ch in s]
    cnt = [cl.count(k) for k in range(4)]
    T = len(cl)
    base = [c * 16 // T for c in cnt]
    fr = [(c * 16) % T for c in cnt]
    rem = 16 - sum(base)
    f = base[:]
    for sym in sorted(range(4), key=lambda k: (-fr[k], k))[:rem]:
        f[sym] += 1
    zero = [k for k in range(4) if cnt[k] > 0 and f[k] == 0]
    if zero:
        big = max(range(4), key=lambda k: (f[k], -k))
        f[big] -= len(zero)
        for k in zero:
            f[k] = 1
    lo = [sum(f[:k]) for k in range(4)]
    table = [None] * 16
    for k in range(16):
        sym = next(t for t in range(4) if lo[t] <= k < lo[t] + f[t])
        table[(13 * k) % 16] = sym
    pos_s = {t: [p for p in range(16) if table[p] == t]
             for t in range(4)}
    seq = cl[:48]

    x, bits = 16, ""
    rows = []
    for step in range(1, 49):
        sym = seq[48 - step]
        fs = f[sym]
        nb = (x // fs).bit_length() - 1
        bval = x & ((1 << nb) - 1)
        for k in range(nb):
            bits += str((bval >> k) & 1)
        xs = x >> nb
        x_new = 16 + pos_s[sym][xs - fs]
        rows.append((step, 49 - step, sym, fs, x, nb, bval, xs,
                     x_new, fs <= xs < 2 * fs))
        x = x_new
    final_state, total_bits = x, len(bits)

    dx, dbits, ok = final_state, bits, True
    for j in range(1, 49):
        slot = dx - 16
        dsym = table[slot]
        xs = f[dsym] + pos_s[dsym].index(slot)
        nb2 = 5 - xs.bit_length()
        val = 0
        for k in range(nb2):
            val += int(dbits[len(dbits) - nb2 + k]) << k
        dx = (xs << nb2) | val
        dbits = dbits[:len(dbits) - nb2]
        ok = ok and dsym == seq[j - 1]
    decode_ok = ok and dx == 16 and dbits == ""
    table_str = "".join(str(t) for t in table)
    out = [(st, pos, sym, fs, xb, nb, bv, xs, xa, rok, final_state,
            total_bits, decode_ok, table_str)
           for (st, pos, sym, fs, xb, nb, bv, xs, xa, rok) in rows]
    return spark.createDataFrame(
        out, "step int, pos int, symbol int, freq int, x_before long,"
             " nb_bits int, bits_val long, x_small long, x_after long,"
             " range_ok boolean, final_state long, total_bits long,"
             " decode_ok boolean, table_str string")


_SPECDEC_SQL = """
WITH mid AS (
  -- integer epoch-microsecond midpoint: identical in both engines
  SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS m
  FROM events
), cnts AS (
  SELECT event_type,
         sum(CASE WHEN epoch_us(ts) < (SELECT m FROM mid)
                  THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN epoch_us(ts) >= (SELECT m FROM mid)
                  THEN 1 ELSE 0 END) AS a
  FROM events GROUP BY event_type
), tot AS (
  SELECT sum(a) AS ta, sum(b) AS tb FROM cnts
), mm AS (
  SELECT c.event_type, c.a, c.b, t.ta, t.tb,
         least(c.a * t.tb, c.b * t.ta) AS m_i,
         greatest(c.a * t.tb - c.b * t.ta, 0) AS s_i
  FROM cnts c CROSS JOIN tot t
), agg AS (
  SELECT sum(m_i) AS msum, sum(s_i) AS ssum FROM mm
)
SELECT m.event_type AS token,
       CAST(m.a AS BIGINT) AS target_count,
       CAST(m.b AS BIGINT) AS draft_count,
       CAST(m.ta AS BIGINT) AS target_total,
       CAST(m.tb AS BIGINT) AS draft_total,
       CAST(m.m_i AS BIGINT) AS accept_mass,
       CAST(m.s_i AS BIGINT) AS residual_mass,
       m.m_i + m.s_i = m.a * m.tb AS decomposition_ok,
       CAST(g.msum AS BIGINT) AS alpha_num,
       CAST(m.ta * m.tb AS BIGINT) AS alpha_den,
       g.ssum = m.ta * m.tb - g.msum AS residual_total_ok,
       g.msum <= m.ta * m.tb AS alpha_le_1,
       (g.msum = m.ta * m.tb)
         = (m.a * m.tb = m.b * m.ta
            AND NOT EXISTS (SELECT 1 FROM mm x
                            WHERE x.a * x.tb <> x.b * x.ta))
         AS alpha_eq_1_iff_equal
FROM mm m CROSS JOIN agg g
"""


@register("data_speculative_sampling", _SPECDEC_SQL)
def data_speculative_sampling(spark, sf_dir):
    """The speculative-sampling correctness identity (Leviathan/Chen
    2023 — the acceptance rule that lets a draft model propose tokens
    for a target model WITHOUT changing the output distribution)
    verified in EXACT integer arithmetic on two real distributions:
    draft q = the event-type distribution of the first half of the
    time range, target p = the second half's. With counts a_i/A
    (target) and b_i/B (draft), cross-multiplying by AB makes every
    quantity integral: accept mass m_i = min(a_i·B, b_i·A), residual
    mass s_i = max(a_i·B − b_i·A, 0), acceptance rate α = Σm/(AB).
    The theorem — accepted draft tokens plus residual resampling
    reproduce p EXACTLY — is pinned per token as m_i + s_i = a_i·B
    (decomposition_ok), the residual normalizer identity
    Σs = AB − Σm is pinned globally (residual_total_ok), α ≤ 1 is
    pinned, and α = 1 iff the distributions coincide
    (alpha_eq_1_iff_equal — honestly data-decided). One conditional
    count aggregate is the only data-sized stage; this is the
    arithmetic a serving stack audits when validating a speculative
    decoder against its target."""
    ev = (_t(spark, sf_dir, "events")
          .withColumn("us", F.unix_micros(F.col("ts").cast("timestamp"))))
    mid = ev.agg(F.expr("(min(us) + max(us)) div 2").alias("m"))
    cnts = (ev.crossJoin(F.broadcast(mid))
            .groupBy("event_type")
            .agg(F.sum(F.when(F.col("us") < F.col("m"), 1)
                       .otherwise(0)).alias("b"),
                 F.sum(F.when(F.col("us") >= F.col("m"), 1)
                       .otherwise(0)).alias("a")))
    tot = cnts.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    mm = (cnts.crossJoin(F.broadcast(tot))
          .withColumn("m_i", F.least(F.col("a") * F.col("tb"),
                                     F.col("b") * F.col("ta")))
          .withColumn("s_i", F.greatest(
              F.col("a") * F.col("tb") - F.col("b") * F.col("ta"),
              F.lit(0))))
    mm = mm.persist()
    agg = mm.agg(F.sum("m_i").alias("msum"),
                 F.sum("s_i").alias("ssum"))
    uneq = mm.filter(F.col("a") * F.col("tb")
                     != F.col("b") * F.col("ta")).agg(
        F.count(F.lit(1)).alias("n_uneq"))
    return (mm.crossJoin(F.broadcast(agg))
            .crossJoin(F.broadcast(uneq))
            .select(F.col("event_type").alias("token"),
                    F.col("a").cast("long").alias("target_count"),
                    F.col("b").cast("long").alias("draft_count"),
                    F.col("ta").cast("long").alias("target_total"),
                    F.col("tb").cast("long").alias("draft_total"),
                    F.col("m_i").cast("long").alias("accept_mass"),
                    F.col("s_i").cast("long").alias("residual_mass"),
                    (F.col("m_i") + F.col("s_i")
                     == F.col("a") * F.col("tb"))
                    .alias("decomposition_ok"),
                    F.col("msum").cast("long").alias("alpha_num"),
                    (F.col("ta") * F.col("tb")).cast("long")
                    .alias("alpha_den"),
                    (F.col("ssum") == F.col("ta") * F.col("tb")
                     - F.col("msum")).alias("residual_total_ok"),
                    (F.col("msum") <= F.col("ta") * F.col("tb"))
                    .alias("alpha_le_1"),
                    ((F.col("msum") == F.col("ta") * F.col("tb"))
                     == ((F.col("a") * F.col("tb")
                          == F.col("b") * F.col("ta"))
                         & (F.col("n_uneq") == 0)))
                    .alias("alpha_eq_1_iff_equal")))
