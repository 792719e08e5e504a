"""Checkpoint/resume semantics (north rule: any stage resumable without
recompute) + per-partition metrics rows."""

import shutil

from pyspark.sql import functions as F

from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline
from knowledge_extraction_pipeline_spark.sources.tables import (
    read_manifest,
    read_metrics,
)


def test_in_memory_runs_release_their_caches(spark, transcripts):
    """What an in-memory run persists is a cached DataFrame, so
    spark.catalog.clearCache() releases it: three runs, each followed by
    clearCache(), leave no persisted RDD that they added."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    try:
        for _ in range(3):
            res = run_pipeline(spark, transcripts)
            res.nodes.count(), res.edges.count()
            spark.catalog.clearCache()
            assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    finally:
        transcripts.cache()  # the session fixture's cache, dropped above


def test_pipeline_checkpoints_and_resumes(spark, transcripts, tmp_path):
    run_dir = str(tmp_path / "run1")

    r1 = run_pipeline(spark, transcripts, run_dir)
    assert r1.recomputed_stages == ["extract", "link", "canonicalize", "materialize"]
    n_nodes, n_edges = r1.nodes.count(), r1.edges.count()
    assert n_nodes > 0 and n_edges > 0

    # full re-run: nothing recomputed, identical outputs
    r2 = run_pipeline(spark, transcripts, run_dir)
    assert r2.recomputed_stages == []
    assert r2.nodes.count() == n_nodes and r2.edges.count() == n_edges
    assert r1.edges.select("subj", "pred", "obj").exceptAll(
        r2.edges.select("subj", "pred", "obj")).count() == 0

    # kill-between-stages: drop the last two stages' checkpoints, resume
    m = read_manifest(run_dir)
    for stage in ("canonicalize", "materialize"):
        m["stages"].pop(stage)
        shutil.rmtree(f"{run_dir}/{stage}")
    import json
    from pathlib import Path
    (Path(run_dir) / "_manifest.json").write_text(json.dumps(m))

    r3 = run_pipeline(spark, transcripts, run_dir)
    assert r3.recomputed_stages == ["canonicalize", "materialize"]
    assert r3.nodes.count() == n_nodes and r3.edges.count() == n_edges


def _table_hash(df):
    """Order-insensitive full-column value hash (arrays stringified)."""
    import hashlib
    rows = sorted(repr(tuple(r)) for r in df.collect())
    h = hashlib.sha256()
    for ln in rows:
        h.update(ln.encode())
    return h.hexdigest()


def test_resume_is_value_identical(spark, transcripts, tmp_path):
    """The full FUZZY pipeline killed between stages and resumed must produce
    value-identical nodes/edges tables — every column, not just counts
    (deterministic plans + manifest skip make mid-run restart lossless)."""
    import json
    import shutil
    from pathlib import Path

    base = str(tmp_path / "run_base")
    r1 = run_pipeline(spark, transcripts, base)
    h_nodes, h_edges = _table_hash(r1.nodes), _table_hash(r1.edges)

    # simulate a crash after 'link': drop the later stages' checkpoints
    killed = str(tmp_path / "run_killed")
    r2 = run_pipeline(spark, transcripts, killed)
    # an independent run in a fresh dir agrees (hash BEFORE deleting its
    # files — the DataFrames lazily re-read the checkpoint parquet)
    assert _table_hash(r2.nodes) == h_nodes and _table_hash(r2.edges) == h_edges
    # ... and so does the in-memory handoff (no run_dir)
    mem = run_pipeline(spark, transcripts)
    assert _table_hash(mem.nodes) == h_nodes and _table_hash(mem.edges) == h_edges
    m = read_manifest(killed)
    for stage in ("canonicalize", "materialize"):
        m["stages"].pop(stage)
        shutil.rmtree(f"{killed}/{stage}")
    (Path(killed) / "_manifest.json").write_text(json.dumps(m))

    r3 = run_pipeline(spark, transcripts, killed)
    assert r3.recomputed_stages == ["canonicalize", "materialize"]
    assert _table_hash(r3.nodes) == h_nodes
    assert _table_hash(r3.edges) == h_edges


def test_partial_write_is_overwritten(spark, transcripts, tmp_path):
    """A stage directory left behind by a crashed write (no manifest entry)
    must be overwritten cleanly on resume, not trusted."""
    run_dir = str(tmp_path / "run_partial")
    r1 = run_pipeline(spark, transcripts, run_dir)
    n_edges = r1.edges.count()

    import json
    from pathlib import Path
    m = read_manifest(run_dir)
    m["stages"].pop("materialize")  # crash 'before' the manifest commit
    (Path(run_dir) / "_manifest.json").write_text(json.dumps(m))
    # corrupt the orphaned stage output
    for junk in Path(f"{run_dir}/materialize/edges").glob("part-*"):
        junk.write_bytes(b"garbage")

    r2 = run_pipeline(spark, transcripts, run_dir)
    assert r2.recomputed_stages == ["materialize"]
    assert r2.edges.count() == n_edges
    # the retried writes replaced their metrics rows instead of adding to them
    assert _metrics_rows(spark, run_dir) == _manifest_rows(run_dir)


def _metrics_rows(spark, run_dir):
    """rows_out of the metrics rows, summed per (stage, table)."""
    return {(r["stage"], r["table"]): r["total"] for r in
            read_metrics(spark, run_dir).groupBy("stage", "table")
            .agg(F.sum("rows_out").alias("total")).collect()}


def _manifest_rows(run_dir):
    return {(stage, table): meta["rows"]
            for stage, info in read_manifest(run_dir)["stages"].items()
            for table, meta in info["tables"].items()}


def test_metrics_lineage_rows(spark, transcripts, tmp_path):
    run_dir = str(tmp_path / "run2")
    run_pipeline(spark, transcripts, run_dir)
    metrics = read_metrics(spark, run_dir)
    stages = {r["stage"] for r in metrics.select("stage").distinct().collect()}
    assert stages == {"extract", "link", "canonicalize", "materialize"}
    cols = set(metrics.columns)
    assert {"run_id", "stage", "table", "partition_id", "rows_out", "wall_ms", "ts"} <= cols
    # rows_out in metrics sums to the committed row counts in the manifest
    assert _metrics_rows(spark, run_dir) == _manifest_rows(run_dir)


def _jobs_started(spark, fn):
    """Spark jobs started while fn() runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup("jobs-started-probe", "checkpoint read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup("jobs-started-probe"))


def test_checkpoint_read_starts_no_job(spark, tmp_path):
    """Resume reads a committed table with the schema its manifest entry
    recorded, so no schema-inference job runs; a manifest entry without a
    schema still reads, by inference."""
    import json
    from pathlib import Path

    from knowledge_extraction_pipeline_spark.sources.tables import (
        checkpoint_read,
        checkpoint_write,
    )

    run_dir = str(tmp_path / "run_read")
    df = spark.range(40).select(F.col("id"), (F.col("id") % 3).alias("k"),
                                F.array(F.col("id").cast("string")).alias("a"))
    written = checkpoint_write(df, run_dir, "extract", "mentions")
    want = sorted(written.collect())

    out, jobs = _jobs_started(
        spark, lambda: checkpoint_read(spark, run_dir, "extract", "mentions"))
    assert jobs == 0
    assert out.schema == written.schema
    assert sorted(out.collect()) == want

    m = read_manifest(run_dir)
    del m["stages"]["extract"]["tables"]["mentions"]["schema"]
    (Path(run_dir) / "_manifest.json").write_text(json.dumps(m))
    out, jobs = _jobs_started(
        spark, lambda: checkpoint_read(spark, run_dir, "extract", "mentions"))
    assert jobs >= 1
    assert sorted(out.collect()) == want


def test_iceberg_probe_and_fallback(spark):
    """No Iceberg runtime jar in this sandbox: the probe must report False
    (parquet fallback — exercised by the resume tests above); when a jar IS
    present the same writes go through writeTo(...).using('iceberg')."""
    from knowledge_extraction_pipeline_spark.sources.tables import (
        _ckpt_table_ident,
        iceberg_available,
    )
    assert iceberg_available(spark) is False
    # identifier sanitization: run dirs with dots/dashes become valid idents
    assert _ckpt_table_ident("/tmp/run-1.2", "extract", "mentions") \
        == "kg_ckpt.run_1_2.extract_mentions"


def test_append_equals_full(spark, tmp_path):
    """Incremental append ≡ full recompute: run the pipeline on the first 60
    conversations, append the remaining 40 via append_transcripts, and the
    resulting nodes and edges tables must be row-identical to one full run
    over all 100 — and extract must NOT be among the recomputed stages."""
    from pyspark.sql import functions as F

    from knowledge_extraction_pipeline_spark.plans.pipeline import (
        append_transcripts,
        run_pipeline,
    )
    from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
        generate_transcripts,
    )

    t = generate_transcripts(spark, 100).persist()
    cut = "conv000000060"
    old = run_pipeline(spark, t.filter(F.col("conv_id") < cut),
                       str(tmp_path / "run_old"))
    assert "extract" in old.recomputed_stages

    inc = append_transcripts(spark, t.filter(F.col("conv_id") >= cut),
                             str(tmp_path / "run_old"),
                             str(tmp_path / "run_inc"))
    assert "extract" not in inc.recomputed_stages
    assert set(inc.recomputed_stages) == {"link", "canonicalize",
                                          "materialize"}

    full = run_pipeline(spark, t, str(tmp_path / "run_full"))

    def comparable(df):
        # exceptAll rejects MAP columns — present maps as sorted entry arrays
        cols = [F.array_sort(F.map_entries(c)).alias(c)
                if dict(df.dtypes)[c].startswith("map<") else F.col(c)
                for c in df.columns]
        return df.select(*cols)

    for name in ("nodes", "edges"):
        a = comparable(getattr(inc, name))
        b = comparable(getattr(full, name))
        assert a.count() == b.count(), name
        assert a.exceptAll(b).count() == 0, name
        assert b.exceptAll(a).count() == 0, name


def _comparable_nodes(df):
    from pyspark.sql import functions as F
    cols = [F.array_sort(F.map_entries(c)).alias(c)
            if dict(df.dtypes)[c].startswith("map<") else F.col(c)
            for c in df.columns]
    return df.select(*cols)


def _rows_equal(a, b, ctx=""):
    a, b = _comparable_nodes(a), _comparable_nodes(b)
    assert a.count() == b.count(), ctx
    assert a.exceptAll(b).count() == 0, ctx
    assert b.exceptAll(a).count() == 0, ctx


def test_ivm_finalize_equals_build_nodes(spark, transcripts, tmp_path):
    """finalize_nodes(node_summaries(M), A) ≡ build_nodes(canonical_mentions
    (M, A)) — the summaries carry exactly the statistics the canon-level
    aggregation needs, row-for-row — and ≡ the nodes table run_pipeline
    writes, which orders occurrences by the packed key."""
    from knowledge_extraction_pipeline_spark.operators.materialize import (
        build_nodes,
        canonical_mentions,
    )
    from knowledge_extraction_pipeline_spark.plans.ivm import (
        finalize_nodes,
        node_summaries,
    )

    res = run_pipeline(spark, transcripts)
    m, asn = res.mentions, res.assignments
    want = build_nodes(canonical_mentions(m, asn))
    got = finalize_nodes(node_summaries(m), asn)
    _rows_equal(got, want, "finalize vs build_nodes")
    _rows_equal(got, res.nodes, "finalize vs run_pipeline nodes")


def test_ivm_merge_is_exact(spark, transcripts, tmp_path):
    """The IVM claim end-to-end: summaries(old) ⊕ summaries(delta), finalized
    under the NEW canonicalization, equals the full recompute — including
    when the delta merges previously-separate components (canon changes are
    absorbed because state is keyed by norm_term)."""
    from pyspark.sql import functions as F

    from knowledge_extraction_pipeline_spark.operators.extract import (
        extract_stage,
    )
    from knowledge_extraction_pipeline_spark.operators.materialize import (
        build_nodes,
        canonical_mentions,
    )
    from knowledge_extraction_pipeline_spark.plans.ivm import (
        finalize_nodes,
        merge_summaries,
        node_summaries,
    )

    cut = "conv000000060"
    old_t = transcripts.filter(F.col("conv_id") < cut)
    delta_t = transcripts.filter(F.col("conv_id") >= cut)

    m_old, _ = extract_stage(old_t)
    m_delta, _ = extract_stage(delta_t)
    merged = merge_summaries(node_summaries(m_old), node_summaries(m_delta))

    full = run_pipeline(spark, transcripts)
    m_all, asn = full.mentions, full.assignments
    want = build_nodes(canonical_mentions(m_all, asn))
    got = finalize_nodes(merged, asn)
    _rows_equal(got, want, "merged summaries vs full recompute")


def test_checkpoint_gc_keeps_recent_and_foreign_dirs(tmp_path):
    import json

    import pytest

    from knowledge_extraction_pipeline_spark.sources.tables import (
        MANIFEST,
        checkpoint_gc,
    )
    for i in range(5):
        d = tmp_path / f"run{i}"
        d.mkdir()
        (d / MANIFEST).write_text(json.dumps({
            "run_id": d.name,
            "stages": {"extract": {"tables": {"mentions": {
                "committed_at": f"2026-08-1{i}T00:00:00Z"}}}}}))
    foreign = tmp_path / "not_a_run"
    foreign.mkdir()
    (foreign / "data.txt").write_text("keep me")

    deleted = checkpoint_gc(str(tmp_path), keep_last=2)
    # oldest three runs go; newest two and the foreign dir stay
    assert sorted(deleted) == [str(tmp_path / f"run{i}") for i in range(3)]
    assert (tmp_path / "run4").exists() and (tmp_path / "run3").exists()
    assert foreign.exists()
    with pytest.raises(ValueError):
        checkpoint_gc(str(tmp_path), keep_last=0)
    assert checkpoint_gc(str(tmp_path / "missing")) == []
