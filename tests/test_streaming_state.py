"""Custom stateful streaming operator (applyInPandasWithState)."""

import pytest

from pyspark.sql import functions as F


def test_conversation_state_tracker(spark, transcripts, tmp_path):
    from knowledge_extraction_pipeline_spark.streaming.stream import (
        conversation_state_tracker,
        read_transcript_stream,
    )

    src = str(tmp_path / "state_src")
    sub = transcripts.filter(F.col("conv_id") < "conv000000010")
    sub.repartition(3).write.parquet(src)

    tracked = conversation_state_tracker(read_transcript_stream(spark, src, 1))
    q = (tracked.writeStream.format("memory").queryName("conv_state")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)

    # last update per conversation carries the full running totals
    rows = spark.sql("""
        select conv_id, max(n_turns) as n_turns, max(n_entities) as n_entities
        from conv_state group by conv_id""").collect()
    got = {r["conv_id"]: (r["n_turns"], r["n_entities"]) for r in rows}

    from knowledge_extraction_pipeline_spark.operators.extract import extract_stage
    want_turns = {r["conv_id"]: r["n"] for r in
                  sub.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    want_ents = {r["conv_id"]: r["n"] for r in
                 extract_stage(sub, engine="pandas")[0].groupBy("conv_id")
                 .agg(F.countDistinct("norm_term").alias("n")).collect()}
    assert set(got) == set(want_turns)
    for cid, (nt, ne) in got.items():
        assert nt == want_turns[cid], cid
        assert ne == want_ents[cid], cid


def test_stream_near_dup_across_batches(spark, tmp_path):
    """Planted near-dups across micro-batches: a doc that shares almost all
    shingles with a doc from an EARLIER batch (within the horizon) is
    dropped; within-batch near-dups keep the smaller id; distinct docs
    survive; state older than the horizon is pruned, so a text identical to
    a long-expired doc survives."""
    import datetime as dt

    from knowledge_extraction_pipeline_spark.streaming.stream import (
        start_stream_near_dup,
    )

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango "
            "uniform victor whiskey xray yankee zulu one two three four")
    near = base.replace("oscar", "OTHER")     # ~1 shingle-window changed
    other = ("red orange yellow green blue indigo violet gray black white "
             "pink brown cyan magenta teal maroon navy olive silver gold "
             "lime aqua coral salmon khaki plum orchid tan beige ivory")
    near_other = other.replace("teal", "STEEL")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    t = lambda s: t0 + dt.timedelta(seconds=s)

    src = str(tmp_path / "nd_src")
    schema = "doc_id long, text string, ts timestamp"
    # batch 1: doc 1 (base), doc 2 (other)
    spark.createDataFrame([(1, base, t(0)), (2, other, t(0))], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    # batch 2 (95 s later — outside the 10 s horizon of batch 1):
    #   doc 3 near-dup of doc 1 → SURVIVES (doc 1's state expired)
    #   doc 4 near-dup of expired doc 2 → SURVIVES (state expired)
    #   doc 5 = doc 2's exact text: expired doc 2 can't drop it, but the
    #   WITHIN-BATCH pair with doc 4 (4 < 5) does → dropped
    spark.createDataFrame(
        [(3, near, t(95)), (4, near_other, t(95)), (5, other, t(95))],
        schema).coalesce(1).write.mode("append").parquet(src)
    # batch 3 (5 s later — INSIDE the horizon of batch 2):
    #   doc 6 near-dup of doc 3 → dropped; doc 7 distinct → survives
    spark.createDataFrame(
        [(6, base, t(100)),
         (7, "completely different words that no other document shares "
             "whatsoever in any shingle window of this entire test corpus "
             "padding padding more padding tokens here now", t(100))],
        schema).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = start_stream_near_dup(
        stream, out_dir=str(tmp_path / "nd_out"),
        checkpoint_dir=str(tmp_path / "nd_ckpt"),
        state_dir=str(tmp_path / "nd_state"),
        threshold=0.6, horizon_s=10.0)
    q.awaitTermination(240)

    out = spark.read.parquet(str(tmp_path / "nd_out") + "/docs")
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == [1, 2, 3, 4, 7], got
    # bounded state: only rows within the horizon of the latest batch remain
    state = spark.read.parquet(str(tmp_path / "nd_state"))
    ids = {r["id"] for r in state.select("id").collect()}
    assert ids <= {3, 4, 7}, ids


def test_session_windows_streaming(spark, tmp_path):
    """Planted sessions: user A has two bursts separated by more than the
    gap (two sessions), user B one continuous burst (one session); counts
    and boundaries must match."""
    import datetime as dt

    from knowledge_extraction_pipeline_spark.streaming.stream import (
        session_windows,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    t = lambda m: t0 + dt.timedelta(minutes=m)
    rows = ([("A", t(0)), ("A", t(5)), ("A", t(10))]       # session 1
            + [("A", t(90)), ("A", t(95))]                 # session 2 (gap 80m)
            + [("B", t(0)), ("B", t(20)), ("B", t(40))])   # one session
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(rows, "conv_id string, ts timestamp") \
        .coalesce(1).write.parquet(src)

    stream = (spark.readStream
              .schema("conv_id string, ts timestamp").parquet(src))
    out = session_windows(stream, gap="30 minutes", watermark="2 hours")
    # complete mode: a finite availableNow source never advances the
    # watermark PAST its own last batch, so append mode would emit nothing —
    # in production the continuing stream advances it and append emits each
    # session exactly once when it closes
    q = (out.writeStream.format("memory").queryName("sessions")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r["conv_id"], r["session_start"], r["n_events"])
           for r in spark.sql("select * from sessions").collect()}
    assert ("A", t(0), 3) in got
    assert ("A", t(90), 2) in got
    assert ("B", t(0), 3) in got
    assert len(got) == 3


def test_stream_running_distinct_hll(spark, tmp_path):
    """Streaming HLL: two files forced into separate micro-batches
    (maxFilesPerTrigger=1); the final per-group estimate must match the
    BATCH sketch of the union (register max-merge is order-free) and be
    within the raw-regime error bound of the exact distinct count."""
    import pyspark.sql.functions as F

    from knowledge_extraction_pipeline_spark.operators.sketches import (
        hll_kmv_distinct,
    )
    from knowledge_extraction_pipeline_spark.streaming.stream import (
        stream_running_distinct,
    )

    src = tmp_path / "src"
    src.mkdir()
    half1 = spark.range(0, 1200).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("g"))
    half2 = spark.range(800, 2400).select(   # overlaps half1: dup keys across batches
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("g"))
    half1.coalesce(1).write.parquet(str(src / "b1"))
    half2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (spark.readStream.schema("k long, g string")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/*"))
    out = stream_running_distinct(stream, "k", "g")
    q = (out.writeStream.format("memory").queryName("run_distinct")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("select * from run_distinct").collect()
    assert len(rows) >= 2  # at least one emission per group
    # keep the final emission per group (largest n_rows_seen)
    final = {}
    for r in rows:
        if r["g"] not in final or r["n_rows_seen"] > final[r["g"]]["n_rows_seen"]:
            final[r["g"]] = r
    batch = {r["g"]: r for r in
             hll_kmv_distinct(
                 half1.unionAll(half2)
                 .select("k", F.col("g").cast("string").alias("g")),
                 "k", ["g"]).collect()}
    for g in ("0", "1"):
        assert final[g]["n_rows_seen"] == 1400          # 600 + 800 rows
        # 1200 distinct keys per group — raw HLL regime, 4σ bound
        assert abs(final[g]["hll_est"] - 1200) / 1200 < 0.26
        # same registers as the batch sketch ⇒ same estimate
        assert final[g]["hll_est"] == pytest.approx(batch[g]["hll_est"],
                                                    rel=1e-6)


def test_session_windows_append_mode_emits_closed_sessions(spark, tmp_path):
    """APPEND-mode evidence for session_windows: the watermark a batch uses
    is computed from the data seen through the PREVIOUS batch, so a
    multi-file source (maxFilesPerTrigger=1) whose later files carry
    much-later timestamps advances the watermark past an earlier session's
    close — that session must be emitted exactly once, in append mode. (A
    single availableNow batch never advances the watermark past itself,
    which is why the complete-mode test alone was weak evidence.)"""
    import datetime as dt

    from knowledge_extraction_pipeline_spark.streaming.stream import (
        session_windows,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    t = lambda m: t0 + dt.timedelta(minutes=m)
    src = str(tmp_path / "sessap_src")
    schema = "conv_id string, ts timestamp"
    # file 1: user A's session (0, 5, 10 min); gap 30m ⇒ closes at 40m
    spark.createDataFrame([("A", t(0)), ("A", t(5)), ("A", t(10))], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    # files 2+3: far-future ticks. Batch 3 runs with watermark
    # = max_ts(batch 2) − 2h = 480 min, far past A's close at 40 min.
    spark.createDataFrame([("Z", t(600))], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([("Z", t(601))], schema) \
        .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = session_windows(stream, gap="30 minutes", watermark="2 hours")
    q = (out.writeStream.format("memory").queryName("sessions_append")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(240)

    rows = spark.sql("SELECT * FROM sessions_append").collect()
    a_rows = [r for r in rows if r["conv_id"] == "A"]
    assert len(a_rows) == 1, rows      # emitted exactly once
    assert a_rows[0]["n_events"] == 3
    assert a_rows[0]["session_start"] == t(0)
    assert a_rows[0]["session_end"] == t(40)   # last event + gap
    # Z's sessions are still open relative to the final watermark: not emitted
    assert not [r for r in rows if r["conv_id"] == "Z"], rows


def test_stream_near_dup_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay: if the state swap committed but the streaming
    checkpoint did not, the SAME batch reprocesses with its own docs already
    in state. Survivors must be identical (self-matches excluded) — the
    partition overwrite then rewrites the same rows. Simulated by deleting
    the streaming checkpoint (but keeping state + output) and re-running
    the stream from scratch."""
    import datetime as dt
    import shutil

    from knowledge_extraction_pipeline_spark.streaming.stream import (
        start_stream_near_dup,
    )

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango")
    other = ("red orange yellow green blue indigo violet gray black white "
             "pink brown cyan magenta teal maroon navy olive silver gold")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    src = str(tmp_path / "rp_src")
    schema = "doc_id long, text string, ts timestamp"
    spark.createDataFrame([(1, base, t0), (2, other, t0),
                           (3, base + " extra", t0)], schema) \
        .coalesce(1).write.parquet(src)

    def run():
        stream = (spark.readStream.schema(schema).parquet(src))
        q = start_stream_near_dup(
            stream, out_dir=str(tmp_path / "rp_out"),
            checkpoint_dir=str(tmp_path / "rp_ckpt"),
            state_dir=str(tmp_path / "rp_state"),
            threshold=0.6, horizon_s=3600.0)
        q.awaitTermination(120)

    run()
    first = sorted(r["doc_id"] for r in
                   spark.read.parquet(str(tmp_path / "rp_out") + "/docs")
                   .select("doc_id").collect())
    assert first == [1, 2], first        # 3 is a near-dup of 1

    # replay: wipe ONLY the streaming checkpoint; state (already containing
    # docs 1 and 2) and output survive
    shutil.rmtree(str(tmp_path / "rp_ckpt"))
    run()
    second = sorted(r["doc_id"] for r in
                    spark.read.parquet(str(tmp_path / "rp_out") + "/docs")
                    .select("doc_id").collect())
    assert second == first, second


def test_compaction_removes_cross_horizon_dups(spark):
    """The batch compaction job removes the duplicates the horizon-bounded
    streaming operator deliberately lets through: two near-identical docs
    far apart in time both survive streaming; compaction keeps only the
    min-id representative. Distinct docs and exact-dup groups also resolve."""
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "compact_near_dup",
        pathlib.Path(__file__).resolve().parents[1] / "jobs"
        / "compact_near_dup.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango")
    near = base.replace("oscar", "OTHER")
    other = ("red orange yellow green blue indigo violet gray black white "
             "pink brown cyan magenta teal maroon navy olive silver gold")
    docs = spark.createDataFrame(
        [(1, base), (2, other),
         (50, near),          # cross-horizon near-dup of 1 → drop (1 kept)
         (60, base),          # exact dup of 1 → drop in exact phase
         (70, other + " x")], # near-dup of 2 → drop
        "doc_id long, text string")
    survivors, m = mod.compact(spark, docs, threshold=0.6)
    ids = sorted(r["doc_id"] for r in survivors.select("doc_id").collect())
    assert ids == [1, 2], (ids, m)
    assert m["n_input"] == 5 and m["n_after_exact"] == 4
    # idempotent: compacting the compacted output changes nothing
    again, m2 = mod.compact(spark, survivors, threshold=0.6)
    assert sorted(r["doc_id"] for r in again.collect()) == ids


def test_stream_interval_join_attribution(spark, tmp_path):
    """Clicks attribute to the impression they follow within the delay
    window, per user; a late click and an orphan click never match."""
    import datetime as dt

    from knowledge_extraction_pipeline_spark.streaming.stream import (
        stream_interval_join,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    t = lambda m: t0 + dt.timedelta(minutes=m)
    imps = [("u1", "ad1", t(0)), ("u2", "ad2", t(0)), ("u1", "ad3", t(60))]
    clks = [("u1", t(5)),     # -> ad1 (within 15m)
            ("u2", t(30)),    # too late for ad2 -> no match
            ("u3", t(5)),     # orphan -> no match
            ("u1", t(70))]    # -> ad3
    imp_src, clk_src = str(tmp_path / "imps"), str(tmp_path / "clks")
    spark.createDataFrame(
        imps, "i_user string, ad string, i_ts timestamp"
    ).coalesce(1).write.parquet(imp_src)
    spark.createDataFrame(
        clks, "c_user string, c_ts timestamp"
    ).coalesce(1).write.parquet(clk_src)

    li = (spark.readStream
          .schema("i_user string, ad string, i_ts timestamp")
          .parquet(imp_src))
    rc = (spark.readStream
          .schema("c_user string, c_ts timestamp").parquet(clk_src))
    joined = stream_interval_join(
        li, rc, "i_user", "c_user", "i_ts", "c_ts",
        max_delay="15 minutes", watermark="2 hours")
    q = (joined.writeStream.format("memory").queryName("attrib")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r["i_user"], r["ad"], r["c_ts"])
           for r in spark.sql("select * from attrib").collect()}
    assert got == {("u1", "ad1", t(5)), ("u1", "ad3", t(70))}

    # overlapping column names are refused up front
    import pytest as _pt
    with _pt.raises(ValueError):
        stream_interval_join(li, li, "i_user", "i_user", "i_ts", "i_ts")


def test_stream_kg_update_matches_batch_nodes(spark, transcripts, tmp_path):
    """Two micro-batches folded through the IVM summary state, finalized ==
    the batch pipeline's build_nodes over ALL transcripts — and a replayed
    batch id is skipped, not double-merged."""
    import json

    from pyspark.sql import functions as F

    from knowledge_extraction_pipeline_spark.operators.materialize import (
        build_nodes,
        canonical_mentions,
    )
    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline
    from knowledge_extraction_pipeline_spark.streaming.stream import (
        finalize_stream_nodes,
        start_stream_kg_update,
    )

    src = str(tmp_path / "kg_src")
    half = transcripts.filter(F.xxhash64("conv_id") % 2 == 0)
    other = transcripts.filter(F.xxhash64("conv_id") % 2 != 0)
    half.coalesce(1).write.parquet(src)
    other.coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "kg_state")
    ckpt = str(tmp_path / "kg_ckpt")
    stream = (spark.readStream.schema(transcripts.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = start_stream_kg_update(stream, state, ckpt)
    q.awaitTermination(300)

    # the persisted state layout: state written by earlier versions stays
    # readable
    occ = "struct<conv_id:string,turn_idx:int,start:int>"
    assert {t: spark.read.parquet(f"{state}/{t}").schema.simpleString()
            for t in ("term", "quote", "ci", "src", "ev")} == {
        "term": f"struct<norm_term:string,term:string,cnt:bigint,first_occ:{occ},"
                "conf_sum:double,conf_n:bigint,first_cat:string>",
        "quote": f"struct<norm_term:string,quote:string,first_occ:{occ}>",
        "ci": "struct<norm_term:string,category:string,importance:string,cnt:bigint>",
        "src": f"struct<norm_term:string,conv_id:string,first_occ:{occ}>",
        "ev": f"struct<norm_term:string,items:array<struct<occ:{occ},conv_id:string,"
              "turn_idx:int,quote:string>>>",
    }

    got = finalize_stream_nodes(spark, state)

    res = run_pipeline(spark, transcripts)
    want = build_nodes(canonical_mentions(res.mentions, res.assignments))

    from tests.test_pipeline_resume import _rows_equal
    _rows_equal(got, want, "stream-maintained vs batch nodes")

    # replay guard: re-folding an old batch id must be a no-op
    man = json.loads(open(f"{state}/_state.json").read())
    before = {r["canonical_term"]: r for r in got.collect()}
    stream2 = (spark.readStream.schema(transcripts.schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
    # same checkpoint dir => batch ids replay as already-seen; no growth
    q2 = start_stream_kg_update(stream2, state, ckpt)
    q2.awaitTermination(300)
    man2 = json.loads(open(f"{state}/_state.json").read())
    assert man2["last_batch_id"] == man["last_batch_id"]
    after = {r["canonical_term"]: r
             for r in finalize_stream_nodes(spark, state).collect()}
    assert set(after) == set(before)
    assert all(after[k]["mention_count"] == before[k]["mention_count"]
               for k in after)


def test_stream_enrich_static_dim(spark, tmp_path):
    import pytest

    from knowledge_extraction_pipeline_spark.streaming.stream import (
        stream_enrich,
    )
    src = str(tmp_path / "enrich_src")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "event_id long, user_id long"
    ).coalesce(1).write.parquet(src)
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "basic")], "user_id long, tier string")
    stream = (spark.readStream.schema("event_id long, user_id long")
              .parquet(src))
    q = (stream_enrich(stream, dim, "user_id")
         .writeStream.format("memory").queryName("enriched")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["event_id"], r["tier"])
           for r in spark.sql("select * from enriched").collect()}
    # left join: unmatched user keeps the event with a null tier
    assert got == {(1, "gold"), (2, "basic"), (3, None)}
    with pytest.raises(ValueError):
        stream_enrich(stream, dim, "user_id", how="full_outer")


def test_kg_state_swap_crash_recovery(spark, tmp_path, transcripts):
    """A crash between the swap's renames leaves the state parked at .old;
    the read path must recover it, never silently start fresh."""
    import os

    from knowledge_extraction_pipeline_spark.streaming.stream import (
        finalize_stream_nodes,
        read_kg_summaries,
        start_stream_kg_update,
    )
    src = str(tmp_path / "crash_src")
    transcripts.limit(40).coalesce(1).write.parquet(src)
    state = str(tmp_path / "crash_state")
    stream = (spark.readStream.schema(transcripts.schema).parquet(src))
    q = start_stream_kg_update(stream, state, str(tmp_path / "crash_ckpt"))
    q.awaitTermination(180)
    want = {r["canonical_term"]: r["mention_count"]
            for r in finalize_stream_nodes(spark, state).collect()}
    # simulate the crash window: old state parked, new never swapped in
    os.rename(state, f"{state}.old")
    assert read_kg_summaries(spark, state) is not None  # recovered
    got = {r["canonical_term"]: r["mention_count"]
           for r in finalize_stream_nodes(spark, state).collect()}
    assert got == want


@pytest.mark.parametrize("sink", ["extract", "kg_update", "near_dup"])
def test_stream_sinks_release_their_caches(spark, transcripts, tmp_path, sink):
    """Each micro-batch releases what it persisted once its writes are
    done: after a 4-file stream, one file per trigger, the session holds no
    persisted RDD that the sink added."""
    from knowledge_extraction_pipeline_spark.streaming import stream as st

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ckpt, state = str(tmp_path / "ckpt"), str(tmp_path / "state")
    rows = transcripts.limit(120)
    if sink == "near_dup":
        rows = rows.select(F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
                           "text", "ts")
    rows.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    if sink == "extract":
        q = st.start_streaming_extract(stream, out, ckpt)
    elif sink == "kg_update":
        q = st.start_stream_kg_update(stream, state, ckpt)
    else:
        q = st.start_stream_near_dup(stream, out, ckpt, state)
    q.awaitTermination(300)
    assert q.exception() is None
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 4
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
