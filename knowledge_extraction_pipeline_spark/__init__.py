"""knowledge_extraction_pipeline_spark — PySpark-native KG-construction engine.

A from-scratch, Spark-first rebuild of the *capabilities* of the reference
``ircaspurna/knowledge-extraction-pipeline`` (a single-process Python pipeline:
PDF → chunks → LLM concept extraction → entity resolution → NetworkX graph →
Neo4j).  This engine replaces that stack with a pure DataFrame / Arrow /
vectorized-pandas-UDF flow over Parquet-checkpointed tables of multi-turn
conversation transcripts::

    transcripts(conv_id, turn_idx, role, text, tool, ts)
      └─(1) EXTRACT      → mentions / triples_raw        (JVM regex, no shuffle)
      └─(2) LINK         → merge-candidate edges         (exact + alias + MinHash-LSH)
      └─(3) CANONICALIZE → components                    (large-star / small-star CC)
      └─(4) MATERIALIZE  → nodes / edges tables          (salted co-occurrence join)
      └─(each stage)     → metrics rows (per-partition lineage), resumable checkpoints

Design notes (scale-first):
  * All hot-path logic is DataFrame expressions or Arrow-batched pandas UDFs —
    never row-at-a-time Python.
  * Stage 1 is shuffle-free (per-row extraction); stages 2–4 shuffle on
    normalized term / pair keys with salting for hot entities.
  * Connected components is the iterative large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond") with
    per-iteration localCheckpoint to truncate lineage.
  * Checkpoints are Parquet + a JSON manifest per run_id (Iceberg-snapshot
    semantics without requiring the Iceberg runtime jar); any stage is
    resumable without recompute.
"""

__version__ = "0.1.0"
