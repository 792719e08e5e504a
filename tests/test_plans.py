"""Physical-plan shape guards: the scale properties SCALING.md claims —
column pruning, filter pushdown, broadcast of bounded dims, whole-stage
codegen — asserted against the actual executed plans so a refactor that
silently de-optimizes a query fails CI, not the 100 TB run.

Assertions are substring checks on the formatted plan (tolerant of Spark
version formatting churn), each on a property that is load-bearing at scale.
"""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_projection_prunes_scan_columns(spark):
    """q_top_parts touches 3 of lineitem's 16 columns — the parquet scan
    must read only those (ReadSchema pruning), not the full row."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["q_top_parts"](spark, SF))
    lines = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "lineitem" in plan]
    assert lines, plan
    schema_line = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "l_comment" not in schema_line
    assert "l_shipinstruct" not in schema_line


def test_filter_pushdown_reaches_scan(spark):
    """The semi-join query filters orders by o_orderpriority — the
    predicate must appear in PushedFilters on the parquet scan."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["q_order_priority_semijoin"](spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters: [" in ln]
    assert pushed, plan
    # at least one scan pushes a real predicate (the same line also carries
    # "PartitionFilters: []", so test the PushedFilters bracket specifically)
    assert any("PushedFilters: []" not in ln for ln in pushed), plan


def test_lexicon_join_is_broadcast(spark):
    """The 15-row lexicon must broadcast (a shuffle join against the corpus
    would shuffle the full mention stream for a constant-size dim)."""
    from knowledge_extraction_pipeline_spark.operators.kg_docs import (
        doc_mentions,
    )
    from knowledge_extraction_pipeline_spark.sources.tables import load_table
    plan = _plan(doc_mentions(spark, load_table(spark, SF, "documents")))
    assert "Broadcast" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ann_query_broadcast_not_cartesian_shuffle(spark):
    """brute_force_topk: the tiny query set broadcasts; the corpus is never
    shuffled (the only exchange is the top-k window's hash by query_id)."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["ann_topk_cosine"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_aggregates_stay_in_codegen(spark):
    """q1 (the TPC-H pricing summary) must run inside whole-stage codegen —
    a Python-UDF or interpreted expression in this hot path would show as a
    codegen break."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    df = QUERIES["q1_pricing_summary"](spark, SF)
    df.collect()  # AQE: codegen stages appear only in the FINAL plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan
    # codegen shows as "WholeStageCodegen (n)" in formatted output and as
    # the "*(n)" stage marker in the compact toString — accept either
    import re
    assert "WholeStageCodegen" in plan or re.search(r"\*\(\d+\)", plan), plan
    assert "BatchEvalPython" not in plan, plan


def test_contamination_joins_on_hash_no_cartesian(spark):
    """Contamination check: train×eval overlap must be an equi-join on the
    n-gram hash — a cartesian or nested-loop pairing of the two shards would
    be quadratic in corpus size."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["text_contamination"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pretokenize_is_single_codegen_scan(spark):
    """Pre-tokenization is pure regexp expressions — no Python evaluation,
    no exchange (one map-side scan)."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["text_pretokenize"](spark, SF))
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_domain_budget_windows_are_bucketed(spark):
    """The per-domain running sum must partition its main window by
    (group, bucket) — a window keyed by group alone serializes each domain
    into one task at scale."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    import re
    plan = _plan(QUERIES["text_domain_budget"](spark, SF))
    # the within-bucket cumsum window must be PARTITIONED by (group, bucket)
    # — merely retaining the _b column (the stitch join needs it anyway)
    # while partitioning by group alone would still serialize each domain
    assert re.search(r"windowspecdefinition\(_grp#\d+, _b#\d+,", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_no_cartesian_in_fused_retrieval(spark):
    """hybrid RRF fuses two top-n lists — the fusion must be a join on id,
    never a cartesian product (the single intentional crossJoin in the BM25
    branch is against a broadcast 1-row stats aggregate)."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["search_hybrid_rrf"](spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_q5_bounded_dims_broadcast_not_forced_on_facts(spark):
    """q_local_supplier_volume: nation/region broadcast (bounded dims); no
    CartesianProduct anywhere; the orderdate predicate reaches the orders
    scan as a pushed filter."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["q_local_supplier_volume"](spark, SF))
    assert "Broadcast" in plan, plan
    assert "CartesianProduct" not in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters: [" in ln
              and "orderdate" in ln]
    assert pushed, plan


def test_interval_overlap_join_is_equi_join_on_cell(spark):
    """interval_overlap_join must plan as an equi-join (hash/sort-merge on
    _cell), never a cartesian/broadcast-nested-loop theta join."""
    from knowledge_extraction_pipeline_spark.operators.asof import (
        interval_overlap_join,
    )
    left = spark.range(0, 1000).selectExpr(
        "CAST(id AS STRING) AS lid", "id * 10 AS ls", "id * 10 + 15 AS le")
    right = spark.range(0, 1000).selectExpr(
        "CAST(id AS STRING) AS rid", "id * 7 AS rs", "id * 7 + 3 AS re")
    plan = _plan(interval_overlap_join(left, right, "ls", "le",
                                       "rs", "re", bin_width=64))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_markov_and_sequences_single_window_shuffle(spark):
    """markov_transitions: the only wide operations are the key-partitioned
    lead window and the combinable count — no sort-merge self-join."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["q_events_markov_transitions"](spark, SF))
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pareto_windows_are_bucketed(spark):
    """pareto_frontier_2d's phase-1 running max must partition by the
    bucket column (never a global single-partition window over the data)."""
    from knowledge_extraction_pipeline_spark.operators.pareto import (
        pareto_frontier_2d,
    )
    pts = spark.range(0, 1000).selectExpr("id AS x", "id % 97 AS y")
    plan = _plan(pareto_frontier_2d(pts, "x", "y", bucket_width=64))
    # the data-sized window's partition spec includes the bucket key
    assert any("Window" in ln and "b#" in ln
               for ln in plan.splitlines()), plan


def test_q6_pushes_every_predicate(spark):
    """Q6 is the pushdown showcase: the ship-date range, discount band and
    quantity cap must all reach the parquet scan as PushedFilters, and the
    scan must read only the 4 touched columns."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["q6_forecast_revenue"](spark, SF))
    pushed = next(ln for ln in plan.splitlines() if "PushedFilters: [" in ln)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, plan
    schema_line = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "l_returnflag" not in schema_line, plan


def test_q3_broadcasts_no_cartesian(spark):
    """Q3's 3-way join: no cartesian product, and the filtered customer /
    orders sides join via hash (broadcast or shuffled-hash under AQE),
    never a driver-side collect."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["q3_shipping_priority"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_q4_semijoin_no_cartesian(spark):
    """Q4's correlated-EXISTS rewrite must keep l_orderkey = o_orderkey as
    the join key with the date comparison as a residual — a planner that
    loses the equi-part degenerates to a nested-loop over lineitem."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["q4_late_ship_priority"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_q21_single_lineitem_scan(spark):
    """Q21's EXISTS + NOT-EXISTS pair is decorrelated into ONE windowed
    pass: the plan must scan lineitem exactly once (the naive correlated
    plan reads it three times)."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["q21_sole_blockers"](spark, SF))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_q2_min_cost_broadcasts_dims(spark):
    """Q2: the European supplier set and the filtered part list are
    bounded dims — both must broadcast; the only wide shuffle is the
    (part, supplier) cost aggregate."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["q2_min_cost_supplier"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bloom_probe_broadcasts_bits(spark):
    """The Bloom bit set is bounded by m=256 rows — every probe join must
    broadcast it; shuffling users against a constant-size filter would
    defeat the point of the sketch."""
    from knowledge_extraction_pipeline_spark.queries import QUERIES
    plan = _plan(QUERIES["sketch_bloom_prune"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def _shape(spark, df) -> dict:
    """Exchange and SortAggregate nodes of a DataFrame's physical plan,
    counted inside the plan of every cached relation it scans (each cached
    plan once, since it runs once)."""
    identity = spark.sparkContext._jvm.System.identityHashCode
    counts = {"Exchange": 0, "SortAggregate": 0}
    seen = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in counts:
            counts[name] += 1
        if name == "InMemoryTableScan":
            cached = node.relation().cachedPlan()
            if identity(cached) not in seen:
                seen.add(identity(cached))
                stack.append(cached)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return counts


def test_materialize_plan_shape(spark, transcripts, tmp_path):
    """Shuffles and sort-based aggregates of the nodes and edges plans as
    Spark plans them for multi-file stage inputs, before adaptive execution
    re-plans them for the data at hand (a single-partition input needs
    almost no shuffle). The packed BIGINT occurrence key keeps the
    min/min_by buffers fixed-width, so they hash-aggregate; only min_by
    over a string value still sorts. The counts are pinned: a change must
    be deliberate."""
    from knowledge_extraction_pipeline_spark.operators.materialize import (
        materialize_stage,
    )
    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, transcripts)
    inputs = []
    for name in ("mentions", "triples_raw", "assignments"):
        path = str(tmp_path / name)
        getattr(res, name).repartition(4).write.parquet(path)
        inputs.append(spark.read.parquet(path))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        nodes, edges = materialize_stage(spark, *inputs)
        got = {"nodes": _shape(spark, nodes), "edges": _shape(spark, edges)}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got == {"nodes": {"Exchange": 13, "SortAggregate": 2},
                   "edges": {"Exchange": 7, "SortAggregate": 6}}


def test_warm_pipeline_reuses_generated_code(spark, transcripts):
    """A repeated run_pipeline in one session reuses the whole-stage-codegen
    classes of the run before: the session's generated-class cache holds a
    pipeline's ~300 classes (Spark's default of 100 did not, so every run
    recompiled nearly all of them), counted by Spark's own compile metric.
    Its key holds no codegen stage id, which adaptive execution assigns in
    a run-dependent order (with it, the first repeat compiled 12-20)."""
    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline

    compiled = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()

    def build():
        res = run_pipeline(spark, transcripts)
        res.nodes.collect()
        res.edges.collect()

    build()
    before = compiled.getCount()
    build()
    assert compiled.getCount() - before <= 4


def test_warm_pipeline_plan_round_trips(spark, transcripts, monkeypatch):
    """A warm run_pipeline builds each stage table's plan from one SQL
    statement, so the driver makes few py4j round trips: 361-375 on this
    fixture, where building the same plans from Column and DataFrame calls
    made 7,366-7,669. The ceiling is under a fifth of the latter."""
    from py4j.clientserver import ClientServerConnection

    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline

    run_pipeline(spark, transcripts)
    send, calls = ClientServerConnection.send_command, []

    def counted(self, command):
        calls.append(1)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    run_pipeline(spark, transcripts)
    monkeypatch.undo()
    assert len(calls) <= 1450


def test_occ_key_orders_like_the_struct(spark):
    from knowledge_extraction_pipeline_spark.operators.materialize import (
        CONV_BITS,
        START_BITS,
        TURN_BITS,
        with_occ_key,
    )
    top_turn, top_start = (1 << TURN_BITS) - 1, (1 << START_BITS) - 1
    occs = [("a", 0, 5), ("a", 1, 0), ("a", top_turn, top_start),
            ("b", 0, 0), ("b", 0, 1), ("b", top_turn, top_start)]
    df = spark.createDataFrame(occs, "conv_id string, turn_idx int, start int")
    # the widest ordinal the key holds
    ords = spark.createDataFrame([("a", 0), ("b", (1 << CONV_BITS) - 1)],
                                 "conv_id string, _ord long")
    rows = with_occ_key(df, ords).collect()
    assert all(r["occ"] >= 0 for r in rows)
    by_key = [(r["conv_id"], r["turn_idx"], r["start"])
              for r in sorted(rows, key=lambda r: r["occ"])]
    assert by_key == sorted(occs)


def test_occ_key_overflow_fails_loudly(spark, transcripts):
    """A field beyond its bit width raises instead of silently reordering
    occurrences — in the key itself and through materialize_stage."""
    import pytest
    from pyspark.sql import functions as F

    from knowledge_extraction_pipeline_spark.operators.materialize import (
        CONV_BITS,
        START_BITS,
        TURN_BITS,
        conv_ordinals,
        materialize_stage,
        with_occ_key,
    )
    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline

    schema = "conv_id string, turn_idx int, start int"
    for turn, start in [(1 << TURN_BITS, 0), (0, 1 << START_BITS), (-1, 0), (None, 0)]:
        df = spark.createDataFrame([("c0", 0, 0), ("c1", turn, start)], schema)
        with pytest.raises(Exception, match="occurrence key field out of range"):
            with_occ_key(df, conv_ordinals(df)).collect()
    df = spark.createDataFrame([("c0", 0, 0)], schema)
    wide = spark.createDataFrame([("c0", 1 << CONV_BITS)], "conv_id string, _ord long")
    with pytest.raises(Exception, match="occurrence key field out of range"):
        with_occ_key(df, wide).collect()

    res = run_pipeline(spark, transcripts)
    first = res.mentions.agg(F.min("conv_id")).first()[0]
    m = res.mentions.withColumn("turn_idx", F.when(
        F.col("conv_id") == first, F.lit(1 << TURN_BITS)).otherwise(F.col("turn_idx")))
    with pytest.raises(Exception, match="occurrence key field out of range"):
        for out in materialize_stage(spark, m, res.triples_raw, res.assignments):
            out.collect()
