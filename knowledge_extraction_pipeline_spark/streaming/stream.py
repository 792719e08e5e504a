"""Structured-Streaming ingest for the KG pipeline.

The reference is batch-only (SURVEY §2.11); its closest analog is the
skip-if-processed resume (batch_process.py:357-360). This module is the
natural streaming extension the checkpoint tables were designed for: a
readStream over the transcripts table (file source) runs the EXTRACT stage
per micro-batch via foreachBatch, appending to the same mentions/triples_raw
checkpoint tables; the heavier link/canonicalize/materialize stages run as
periodic batch compaction over the accumulated extract output (the standard
lambda-ish split — extraction is per-row and streams perfectly; global
canonicalization is a batch join problem).

Also provided: a watermarked sliding-window mention-rate aggregation, the
canonical Structured Streaming stateful-op example over this schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import _extract

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def start_streaming_extract(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """foreachBatch: run the shuffle-free extract stage on each micro-batch
    and append to the mentions / triples_raw tables. Exactly-once via the
    streaming checkpoint + idempotent parquet append per batch id. Each
    batch releases the surfaces it cached once both tables are written."""

    def process(batch_df: DataFrame, batch_id: int):
        base, m, tr = _extract(batch_df)
        m.withColumn("_batch_id", F.lit(batch_id)) \
            .write.mode("append").parquet(f"{out_dir}/mentions")
        tr.withColumn("_batch_id", F.lit(batch_id)) \
            .write.mode("append").parquet(f"{out_dir}/triples_raw")
        base.unpersist()

    return (
        stream.writeStream
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def conversation_state_tracker(stream: DataFrame,
                               idle_timeout_ms: int = 30 * 60 * 1000) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: per
    conversation, maintain (turns seen, distinct entities seen, last ts) and
    emit an updated summary row per micro-batch; state evicts after
    idle_timeout without new turns (bounded state — the requirement for any
    10^12-turn stream)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, n_turns long, n_entities long, last_ts timestamp, expired boolean"
    state_schema = "n_turns long, entities array<string>, last_ts timestamp"

    def track(key, pdfs, state: GroupState):
        import pandas as pd

        from knowledge_extraction_pipeline_spark.functions.lexicon import (
            extract_mentions_text,
        )
        (conv_id,) = key
        if state.hasTimedOut:
            n_turns, entities, last_ts = state.get
            state.remove()
            yield pd.DataFrame([(conv_id, n_turns, len(entities), last_ts, True)],
                               columns=["conv_id", "n_turns", "n_entities",
                                        "last_ts", "expired"])
            return
        n_turns, entities, last_ts = state.get if state.exists else (0, [], None)
        ents = set(entities)
        for pdf in pdfs:
            n_turns += len(pdf)
            for t in pdf["text"]:
                ents.update(m["norm_term"] for m in extract_mentions_text(t))
            mx = pdf["ts"].max()
            last_ts = mx if last_ts is None or mx > last_ts else last_ts
        state.update((n_turns, sorted(ents), last_ts))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame([(conv_id, n_turns, len(ents), last_ts, False)],
                           columns=["conv_id", "n_turns", "n_entities",
                                    "last_ts", "expired"])

    return (
        stream.groupBy("conv_id").applyInPandasWithState(
            track, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.ProcessingTimeTimeout)
    )


def stream_exact_dedup(stream: DataFrame, text_col: str = "text",
                       ts_col: str = "ts",
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup — the ingest-side counterpart of
    operators.dedup.exact_duplicates for a training-data pipeline: rows whose
    normalized-text fingerprint was already seen within the watermark horizon
    are dropped. dropDuplicatesWithinWatermark keys state by fingerprint and
    evicts it once the watermark passes, so state stays bounded by the
    duplicate-arrival window, not the stream length (the requirement for a
    10^12-row stream; cross-horizon duplicates are the batch compaction
    pass's job, exactly like canonicalization)."""
    from ..functions.text import normalize_term

    return (
        stream
        .withColumn("fp", F.md5(normalize_term(F.col(text_col))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )


def start_stream_near_dup(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    threshold: float = 0.6,
    k: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
    horizon_s: float = 3600.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
):
    """Streaming NEAR-duplicate dedup — the MinHash-LSH counterpart of
    stream_exact_dedup, mirroring the batch operator
    (operators/dedup.minhash_near_dup_pairs) inside foreachBatch.

    Per micro-batch: shingle → minhash signature → band hashes for the new
    rows; candidate pairs are equi-joins on (band_idx, band_hash) against
    (a) the persisted band state from earlier batches within the horizon and
    (b) the batch itself (within-batch dups, smaller id wins); candidates
    are verified by ESTIMATED Jaccard — the fraction of agreeing signature
    components — because state keeps only the num_hashes-long signature per
    doc, never the shingle sets (the estimator's stderr is ~1/√num_hashes ≈
    0.18 at 32 hashes; raise num_hashes for a tighter gate). Survivors are
    appended to `{out_dir}/docs`; their narrow state rows (id, ts, band
    rows + signature) land in the state table with rows older than
    `horizon_s` pruned, so STATE IS BOUNDED by the duplicate-arrival window
    × (num_bands + 1) rows per doc, not by stream length. Cross-horizon
    duplicates are the periodic batch compaction's job (run the batch
    operator over the accumulated output), exactly like canonicalization.

    State layout — ADDITIVE and time-bucket-partitioned
    (`{state_dir}/bid=<batch>/tb=<floor(epoch/horizon)>/`): each batch
    writes ONLY its own survivors (overwriting its own bid dir, so an
    at-least-once replay rewrites the same rows), existing state is never
    rewritten, and horizon pruning DELETES fully-expired tb partition
    directories instead of rewriting the table. There is no swap window to
    crash in: a batch dir becomes visible only through the committer's
    rename, a half-written dir is invisible to partition discovery
    (_temporary is ignored), and losing the in-flight dir just replays that
    batch. The ts-based prune still runs on the READ path, so matching
    semantics never depend on when physical deletion happened.
    """
    from ..functions.text import minhash_signature, lsh_bands, word_shingles

    def process(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        batch = (
            batch_df.select(
                F.col(id_col).alias("id"), F.col(ts_col).alias("ts"),
                F.struct(*batch_df.columns).alias("row"),
                F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"))
            .select("id", "ts", "row",
                    minhash_signature("sh", num_hashes).alias("sig"))
            .withColumn("bands", lsh_bands("sig", num_hashes, num_bands))
            .persist()  # one pass over the text; released at the batch end
        )
        bands_b = batch.select(
            "id", F.posexplode("bands").alias("band_idx", "band_hash"))
        sigs_b = batch.select("id", "sig")
        # collect the batch max both as a timestamp (read-path prune lit)
        # and as an integer epoch second computed IN SPARK — the physical
        # bucket prune must compare in the same epoch space unix_timestamp
        # wrote the tb values in, never through a driver-side naive-datetime
        # reinterpretation (tz-dependent)
        _mx = batch.agg(
            F.max("ts").alias("mts"),
            F.max(F.unix_timestamp("ts")).alias("mepoch")).collect()[0]
        batch_max_ts, batch_max_epoch = _mx["mts"], _mx["mepoch"]
        import os as _os
        have_state = False
        if _os.path.isdir(state_dir):
            for _root, _dirs, _files in _os.walk(state_dir):
                # skip Spark staging/metadata (_temporary, _SUCCESS, dot
                # files): a crash mid-write leaves part files under
                # _temporary that partition discovery ignores — counting
                # them here would turn "replay the batch" into a
                # permanently unreadable state dir
                _dirs[:] = [d for d in _dirs
                            if not d.startswith(("_", "."))]
                if any(f.endswith(".parquet") and not f.startswith(("_", "."))
                       for f in _files):
                    have_state = True
                    break
        if have_state:
            # only a genuinely-absent state takes the fresh-start path; a
            # corrupt or transiently-unreadable state table must FAIL the
            # batch (a silent reset would stream duplicates into the output)
            state = spark.read.parquet(state_dir) \
                .select("id", "ts", "sig", "bands")
            # horizon semantics: a duplicate is only suppressed against docs
            # seen within `horizon_s` of the INCOMING data — prune expired
            # state BEFORE matching, not just before the state rewrite
            if batch_max_ts is not None:
                state = state.filter(
                    F.col("ts") >= F.lit(batch_max_ts).cast("timestamp")
                    - F.expr(f"INTERVAL {int(horizon_s)} SECONDS"))
        # candidate (new, old) pairs: vs state, and within-batch (id_old < id_new)
        cands = []
        if have_state:
            st_bands = state.select(F.col("id").alias("id_old"),
                                    F.posexplode("bands")
                                    .alias("band_idx", "band_hash"))
            cands.append(
                bands_b.join(st_bands, ["band_idx", "band_hash"])
                # id_old != id: after an at-least-once REPLAY the state
                # already holds this very batch's docs; without the filter
                # every doc matches its own state row (est_j = 1.0) and the
                # idempotent partition overwrite would erase all survivors
                .filter(F.col("id_old") != F.col("id"))
                .select(F.col("id").alias("id_new"), "id_old"))
        b2 = bands_b.select(F.col("id").alias("id_old"), "band_idx", "band_hash")
        cands.append(
            bands_b.join(b2, ["band_idx", "band_hash"])
            .filter(F.col("id_old") < F.col("id"))
            .select(F.col("id").alias("id_new"), "id_old"))
        cand = cands[0]
        for c in cands[1:]:
            cand = cand.unionByName(c)
        cand = cand.dropDuplicates(["id_new", "id_old"])
        old_sigs = sigs_b.select(F.col("id").alias("id_old"),
                                 F.col("sig").alias("sig_old"))
        if have_state:
            old_sigs = old_sigs.unionByName(
                state.select(F.col("id").alias("id_old"),
                             F.col("sig").alias("sig_old")))
        est_j = (F.size(F.filter(
            F.zip_with("sig", "sig_old", lambda x, y: x == y),
            lambda b: b)).cast("double") / num_hashes)
        dup_ids = (
            cand.join(sigs_b.select(F.col("id").alias("id_new"), "sig"), "id_new")
            .join(old_sigs, "id_old")
            .filter(est_j >= threshold)
            .select(F.col("id_new").alias("id")).distinct()
        )
        survivors = batch.join(dup_ids, "id", "left_anti").persist()
        # IDEMPOTENT output: each batch owns its _bid=<id> partition dir and
        # OVERWRITES it, so an at-least-once replay (crash between the
        # output write and the streaming commit) rewrites the same partition
        # instead of appending duplicate survivor rows
        survivors.select("row.*").withColumn("_batch_id", F.lit(batch_id)) \
            .write.mode("overwrite") \
            .parquet(f"{out_dir}/docs/_bid={batch_id}")
        # ADDITIVE state write: only this batch's survivors, partitioned by
        # time bucket, into this batch's own bid dir (overwrite = replay
        # idempotence). Existing state is never rewritten.
        hb = max(1, int(horizon_s))
        survivors.select(
            "id", "ts", "sig", "bands",
            F.floor(F.unix_timestamp("ts") / hb).alias("tb")) \
            .write.partitionBy("tb").mode("overwrite") \
            .parquet(f"{state_dir}/bid={batch_id}")
        # physical horizon pruning: DELETE fully-expired bucket directories
        # (tb whose entire range lies before the cutoff). Read-path pruning
        # above is what defines matching semantics; this only bounds disk.
        if batch_max_epoch is not None:
            # batch_max_epoch came from unix_timestamp IN SPARK — same epoch
            # space the tb values were written in, regardless of session tz
            cutoff_epoch = int(batch_max_epoch) - int(horizon_s)
            import shutil as _shutil
            for bid_name in _os.listdir(state_dir):
                bdir = _os.path.join(state_dir, bid_name)
                if not (bid_name.startswith("bid=") and _os.path.isdir(bdir)):
                    continue
                for tb_name in _os.listdir(bdir):
                    if not tb_name.startswith("tb="):
                        continue
                    try:
                        tb = int(tb_name.split("=", 1)[1])
                    except ValueError:  # null-ts partition: never expires
                        continue
                    if (tb + 1) * hb <= cutoff_epoch:
                        _shutil.rmtree(_os.path.join(bdir, tb_name),
                                       ignore_errors=True)
        survivors.unpersist()
        batch.unpersist()

    return (
        stream.writeStream
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def session_windows(stream: DataFrame, key_col: str = "conv_id",
                    ts_col: str = "ts", gap: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Streaming sessionization via F.session_window — the dynamic-gap
    counterpart of the batch q_events_sessionize query: a session extends
    while events for the key keep arriving within `gap`, closes after a
    quiet period, and the watermark bounds how long an open session's state
    can wait for stragglers (state is per OPEN session, evicted at
    watermark — the 10¹²-row-stream requirement). Output one row per closed
    session: key, start/end, n_events. Append-mode emission (a closed
    session emitted exactly once when the watermark passes it) is runtime-
    evidenced by test_session_windows_append_mode_emits_closed_sessions via
    a multi-batch file source whose later batches advance the watermark."""
    return (
        stream
        .withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                 F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col(key_col),
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events")
    )


def mention_rate_windows(stream: DataFrame, window: str = "10 minutes",
                         slide: str = "5 minutes",
                         watermark: str = "30 minutes") -> DataFrame:
    """Watermarked sliding-window turn/mention counts per role — late rows
    beyond the watermark are dropped, state is bounded."""
    from ..operators.extract import match_surfaces_udf

    return (
        stream
        .withWatermark("ts", watermark)
        .withColumn("n_mentions", F.size(match_surfaces_udf(F.col("text"))))
        .groupBy(F.window("ts", window, slide), F.col("role"))
        .agg(F.count(F.lit(1)).alias("n_turns"),
             F.sum("n_mentions").alias("n_mentions"))
        .select(F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"),
                "role", "n_turns", "n_mentions")
    )


def trending_terms_windows(stream: DataFrame, window: str = "10 minutes",
                           slide: str = "5 minutes",
                           watermark: str = "30 minutes",
                           text_col: str = "text",
                           ts_col: str = "ts") -> DataFrame:
    """Watermarked sliding-window TERM frequencies — the trending-topics
    view of the transcript stream. Tokens explode map-side, counts
    aggregate per (window, term) with bounded state (watermark evicts
    closed windows). Top-k ranking deliberately stays OUT of the streaming
    plan: rank() over a window is not supported on update-mode aggregates,
    so consumers rank the emitted (window, term, n) rows per closed window
    — the standard lambda split. The token rule is the batch engine's
    _corpus_words, so stream and batch counts agree exactly."""
    from ..operators.text_analysis import _corpus_words

    return (
        stream
        .withWatermark(ts_col, watermark)
        .select(ts_col, F.explode(_corpus_words(F.col(text_col)))
                .alias("term"))
        .groupBy(F.window(ts_col, window, slide), F.col("term"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"), "term", "n")
    )


def stream_running_distinct(stream: DataFrame, key_col: str,
                            group_col: str) -> DataFrame:
    """Streaming running distinct-count per group as a custom stateful
    operator: the state is a 2^p-byte HyperLogLog register array (the
    batch sketch of operators/sketches.py, same md5 hash recipe), updated
    with a register-wise max per micro-batch — O(256 bytes) per group
    FOREVER, where exact streaming distinct state grows with the key
    cardinality. Emits (group, n_rows_seen, hll_est) per updated group per
    batch; estimates carry the small-range linear-counting correction, and
    register max-merge is order-free so the estimate is independent of
    batch arrival order."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.sketches import HLL_P, _alpha

    p = HLL_P
    m = 1 << p
    alpha = _alpha(m)
    out_schema = f"{group_col} string, n_rows_seen long, hll_est double"
    state_schema = "n_rows long, regs array<int>"

    def track(key, pdfs, state: GroupState):
        import hashlib
        import math

        import pandas as pd

        (grp,) = key
        n_rows, regs = state.get if state.exists else (0, [0] * m)
        regs = list(regs)
        for pdf in pdfs:
            n_rows += len(pdf)
            for v in pdf[key_col]:
                h = hashlib.md5(str(v).encode()).hexdigest()
                b = int(h[: p // 4], 16)
                w = int(h[p // 4: p // 4 + 14], 16)
                r = 57 if w == 0 else 57 - w.bit_length()
                if r > regs[b]:
                    regs[b] = r
        state.update((n_rows, regs))
        s = sum(2.0 ** -x for x in regs)
        est = alpha * m * m / s
        zeros = regs.count(0)
        if est <= 2.5 * m and zeros > 0:
            est = m * math.log(m / zeros)
        yield pd.DataFrame([(grp, n_rows, round(est, 4))],
                           columns=[group_col, "n_rows_seen", "hll_est"])

    return (
        stream.select(F.col(group_col).cast("string").alias(group_col),
                      F.col(key_col).alias(key_col))
        .groupBy(group_col)
        .applyInPandasWithState(
            track, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)
    )


def stream_interval_join(left: DataFrame, right: DataFrame,
                         left_key: str, right_key: str,
                         left_ts: str, right_ts: str,
                         max_delay: str = "15 minutes",
                         watermark: str = "1 hour",
                         how: str = "inner") -> DataFrame:
    """Stream-stream interval join (the attribution pattern: right events
    joined to the left event they follow within `max_delay`, per key —
    e.g. clicks to impressions). Both sides carry a watermark and the join
    condition bounds right_ts to [left_ts, left_ts + max_delay], which is
    exactly what Structured Streaming needs to evict join state: a left row
    leaves state once the right watermark passes left_ts + max_delay, so
    state stays proportional to the delay horizon, not the stream.

    Inner matches emit as they arrive; 'leftOuter' additionally emits
    unmatched left rows with nulls once the watermark closes their window
    (note: a finite availableNow source never advances the watermark past
    its last batch, so outer rows only emit on continuing streams).
    Column names must not overlap between the two sides."""
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"overlapping columns between sides: {sorted(overlap)}")
    lf = left.withWatermark(left_ts, watermark)
    rf = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return lf.join(rf, cond, how)


_KG_STATE_TABLES = ("term", "quote", "ci", "src", "ev")


def read_kg_summaries(spark: SparkSession, state_dir: str):
    """Load the persisted node-summary state written by
    start_stream_kg_update, or None when no state exists yet. Raises on a
    half-present state (manifest without tables or vice versa) — a silent
    reset would drop history from the maintained view."""
    import json
    import os

    from ..plans.ivm import NodeSummaries

    man = os.path.join(state_dir, "_state.json")
    parked = f"{state_dir}.old"
    if not os.path.isdir(state_dir) and os.path.isdir(parked):
        # a crash fell between the swap's two renames — the previous state
        # survived at .old; recover it instead of silently starting fresh
        os.rename(parked, state_dir)
    if not os.path.isdir(state_dir) or not os.path.exists(man):
        if os.path.isdir(state_dir) and any(
                os.path.isdir(os.path.join(state_dir, t))
                for t in _KG_STATE_TABLES):
            raise RuntimeError(f"kg state at {state_dir} has tables but no "
                               f"manifest — refusing to treat as fresh")
        return None
    return NodeSummaries(**{
        t: spark.read.parquet(os.path.join(state_dir, t))
        for t in _KG_STATE_TABLES})


def start_stream_kg_update(stream: DataFrame, state_dir: str,
                           checkpoint_dir: str):
    """Streaming KG maintenance: fold every transcript micro-batch into the
    persisted node-summary state using the IVM semigroup merges
    (plans/ivm.py) — the node table stays finalize-able at any moment
    without ever re-reading history, and late canon changes (two entities
    merging when a bridging alias arrives) are absorbed at finalize because
    state is keyed by norm_term.

    Replay safety: unlike the near-dup sink's idempotent partition
    overwrite, a summary MERGE is not idempotent — so the state manifest
    records the last folded batch_id and a replayed batch (id <= last) is
    skipped outright. The five tables plus manifest swap atomically via
    write-to-tmp + rename, same crash discipline as the near-dup state."""
    import json
    import os
    import shutil

    from ..plans.ivm import merge_summaries, node_summaries

    def process(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        man = os.path.join(state_dir, "_state.json")
        last = -1
        if os.path.exists(man):
            last = json.loads(open(man).read())["last_batch_id"]
        if batch_id <= last:
            return  # at-least-once replay of an already-folded batch
        base, m, _triples = _extract(batch_df)
        m = m.persist()
        delta = node_summaries(m)
        prev = read_kg_summaries(spark, state_dir)
        merged = merge_summaries(prev, delta) if prev is not None else delta
        tmp = f"{state_dir}.tmp-{batch_id}"
        shutil.rmtree(tmp, ignore_errors=True)
        for t in _KG_STATE_TABLES:
            getattr(merged, t).write.mode("overwrite") \
                .parquet(os.path.join(tmp, t))
        with open(os.path.join(tmp, "_state.json"), "w") as f:
            json.dump({"last_batch_id": batch_id}, f)
        # crash-safe swap: park the old state aside FIRST, swap the new one
        # in, then delete the parked copy — a crash between any two steps
        # leaves either the old state in place, or the old state parked at
        # .old (read path recovers it), never an absent/half state (the
        # summary MERGE is not idempotent, so a silent reset loses history)
        parked = f"{state_dir}.old"
        shutil.rmtree(parked, ignore_errors=True)
        if os.path.isdir(state_dir):
            os.rename(state_dir, parked)
        os.rename(tmp, state_dir)
        shutil.rmtree(parked, ignore_errors=True)
        m.unpersist()
        base.unpersist()

    return (
        stream.writeStream
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def finalize_stream_nodes(spark: SparkSession, state_dir: str) -> DataFrame:
    """Materialize the current node table from the streaming summary state:
    re-derive the vocabulary from the state itself, run the (vocabulary-
    sized) linking + canonicalization, and finalize — row-identical to
    build_nodes over all mentions ever streamed (the plans/ivm pinning)."""
    from ..operators.canonicalize import canonicalize_stage
    from ..operators.link import link_stage
    from ..plans.ivm import finalize_nodes

    s = read_kg_summaries(spark, state_dir)
    if s is None:
        raise FileNotFoundError(f"no kg state at {state_dir}")
    terms = s.term.select("norm_term").distinct().persist()
    asn = canonicalize_stage(terms, link_stage(None, terms=terms))
    return finalize_nodes(s, asn)


def stream_enrich(stream: DataFrame, dim: DataFrame, on: str,
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment join: attach a batch dimension table to a
    stream. Structured Streaming re-plans the static side per micro-batch
    (picking broadcast when it fits), so a dim refreshed underneath a
    Delta/parquet path is re-read without restarting the query — the
    standard pattern for enriching events with slowly-changing lookup
    data. Inner/left only: the static side cannot carry streaming state."""
    if how not in ("inner", "left"):
        raise ValueError(f"stream-static join supports inner/left, got {how}")
    return stream.join(dim, on, how)
