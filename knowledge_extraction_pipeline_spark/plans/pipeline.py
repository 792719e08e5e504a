"""The one composition of the KG-construction pipeline.

Spark analog of the reference's run_complete_pipeline
(scripts/process_pdf.py:42-354) and batch_process (scripts/batch_process.py).

    run_pipeline(spark, transcripts, run_dir=None)
        extract      → mentions, triples_raw
        link         → candidate edges (alias + MinHash-LSH)
        canonicalize → assignments(norm_term, canon)
        materialize  → nodes, edges

With run_dir=None the stages hand their DataFrames over in memory. With a
run_dir each stage writes its tables as checkpoints plus metrics rows, and a
stage already committed there is read back instead of recomputed (resume
without recompute).

Ship via: spark-submit --py-files kg_spark.zip jobs/run_pipeline.py ...
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.canonicalize import canonicalize_stage
from ..operators.extract import extract_stage
from ..operators.link import distinct_terms, link_stage
from ..operators.materialize import materialize_stage
from ..sources.tables import checkpoint_read, checkpoint_write, stage_committed


@dataclass
class PipelineResult:
    mentions: DataFrame
    triples_raw: DataFrame
    candidates: DataFrame
    assignments: DataFrame
    nodes: DataFrame
    edges: DataFrame
    recomputed_stages: list[str]


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    run_dir: str | None = None,
    enable_fuzzy: bool = True,
) -> PipelineResult:
    recomputed: list[str] = []

    def stage(name: str, tables: tuple[str, ...], compute) -> list[DataFrame]:
        """The stage's tables: read back if committed in run_dir, else
        computed (and checkpointed when there is a run_dir)."""
        if run_dir is not None and all(
                stage_committed(run_dir, name, t) for t in tables):
            return [checkpoint_read(spark, run_dir, name, t) for t in tables]
        out = compute()
        recomputed.append(name)
        if run_dir is None:
            return list(out)
        return [checkpoint_write(df, run_dir, name, t)
                for df, t in zip(out, tables)]

    mentions, triples_raw = stage("extract", ("mentions", "triples_raw"),
                                  lambda: extract_stage(transcripts))

    # the vocabulary is consumed by both link and canonicalize — one scan.
    # A persisted DataFrame, not a localCheckpoint: spark.catalog.clearCache()
    # releases it, where a checkpoint's blocks outlive the run.
    terms = None

    def _terms():
        nonlocal terms
        if terms is None:
            terms = distinct_terms(mentions).persist()
            terms.count()
        return terms

    [candidates] = stage("link", ("candidates",), lambda: [
        link_stage(mentions, enable_fuzzy=enable_fuzzy, terms=_terms())])
    [assignments] = stage("canonicalize", ("assignments",), lambda: [
        canonicalize_stage(_terms(), candidates)])
    nodes, edges = stage("materialize", ("nodes", "edges"), lambda:
                         materialize_stage(spark, mentions, triples_raw, assignments))

    return PipelineResult(
        mentions=mentions, triples_raw=triples_raw, candidates=candidates,
        assignments=assignments, nodes=nodes, edges=edges,
        recomputed_stages=recomputed,
    )


def append_transcripts(
    spark: SparkSession,
    delta_transcripts: DataFrame,
    old_run_dir: str,
    new_run_dir: str,
    enable_fuzzy: bool = True,
) -> PipelineResult:
    """Incremental update: fold a DELTA of new transcripts into an existing
    run WITHOUT re-extracting history — the daily-append pattern at corpus
    scale, where stage 1 (the regex/UDF scan over raw text) dominates cost
    and must only ever touch new data.

    Exact by construction: extraction is row-local and its rows carry no
    run-global counter — mentions are ordered by (conv_id, turn_idx,
    start), row content — so union(extract(old), extract(delta)) ≡
    extract(old ∪ delta) and every downstream stage sees identical input
    (equality with the full recompute is pinned by
    tests/test_pipeline_resume.py::test_append_equals_full). The packed
    occurrence key `occ`, whose conversation ordinal depends on the whole
    conv_id set, is internal to materialize_stage: it is recomputed from
    the merged mentions on every run and never stored.
    Stages 2-4 DO recompute: linking/CC are vocabulary-sized (constant-ish
    in corpus growth) and the merge aggregates are additive shuffles over
    mention summaries. Summary-level IVM, which persists partial aggregates
    keyed by norm_term and merges deltas into them, is plans/ivm.py; its
    streaming form is stream.start_stream_kg_update.

    The union is checkpointed into new_run_dir's extract slot, so the new
    dir is a complete, resumable run of its own; the old run dir is never
    written to."""
    old_m = checkpoint_read(spark, old_run_dir, "extract", "mentions")
    old_tr = checkpoint_read(spark, old_run_dir, "extract", "triples_raw")
    dm, dtr = extract_stage(delta_transcripts)
    checkpoint_write(old_m.unionByName(dm), new_run_dir, "extract", "mentions")
    checkpoint_write(old_tr.unionByName(dtr), new_run_dir, "extract",
                     "triples_raw")
    # extract is now committed in new_run_dir → run_pipeline skips stage 1
    # and rebuilds link/canonicalize/materialize from the merged mentions
    return run_pipeline(spark, delta_transcripts, new_run_dir,
                        enable_fuzzy=enable_fuzzy)
