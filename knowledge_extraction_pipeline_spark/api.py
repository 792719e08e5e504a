"""Public API facade — one entry point per tool of the reference's MCP
surface (mcp/server.py:87-694, the 14 tools that ARE the reference's public
API), mapped onto this engine's DataFrame operators. A user of the reference
can find each workflow here by its old name.

| reference MCP tool            | here                                     |
|-------------------------------|------------------------------------------|
| generate_extraction_prompts   | extract_concepts (no LLM round-trip —    |
| parse_extraction_responses    |   deterministic extraction, one call)    |
| resolve_entities_automatic    | resolve_entities                         |
| create_relationship_batch     | extract_relationships (rule-table typing |
| parse_relationship_responses  |   replaces the LLM batch, one call)      |
| build_knowledge_graph         | build_knowledge_graph                    |
| process_pdf_document          | n/a — input is the transcripts table     |
| create_semantic_chunks        | create_semantic_chunks                   |
| import_graph_to_neo4j         | export_graph (tables / JSON / GraphML)   |
| get_extraction_stats          | get_extraction_stats                     |
| batch_process_pdfs            | run_pipeline (plans/pipeline.py)         |
| create_graph_visualization    | export_graph(fmt='json') (Cytoscape doc) |
| search_semantic_documents     | search_semantic                          |
| get_graph_statistics          | get_graph_statistics                     |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.chunking import merge_small_chunks, semantic_chunks
from .operators.extract import extract_stage
from .operators.graph_algos import degree_centrality, graph_stats, top_k_nodes
from .operators.similarity import (
    brute_force_topk,
    ivf_pq_topk,
    ivf_topk,
    lsh_topk,
    pq_topk,
)
from .plans.pipeline import run_pipeline


def extract_concepts(transcripts: DataFrame) -> DataFrame:
    """Mentions table (replaces generate_extraction_prompts +
    parse_extraction_responses — no manual LLM round trip)."""
    m, _ = extract_stage(transcripts)
    return m


def resolve_entities(transcripts: DataFrame, enable_fuzzy: bool = True) -> DataFrame:
    """norm_term → canonical assignment (exact + alias + fuzzy CC)."""
    return run_pipeline(transcripts.sparkSession, transcripts,
                        enable_fuzzy=enable_fuzzy).assignments


def extract_relationships(spark: SparkSession, transcripts: DataFrame) -> DataFrame:
    """Typed co-occurrence edges (replaces create_relationship_batch +
    parse_relationship_responses)."""
    return run_pipeline(spark, transcripts).edges


def build_knowledge_graph(spark: SparkSession, transcripts: DataFrame,
                          enable_fuzzy: bool = True) -> tuple[DataFrame, DataFrame]:
    """→ (nodes, edges)."""
    res = run_pipeline(spark, transcripts, enable_fuzzy=enable_fuzzy)
    return res.nodes, res.edges


def create_semantic_chunks(transcripts: DataFrame, **kw) -> DataFrame:
    return merge_small_chunks(semantic_chunks(transcripts, **kw))


def export_graph(nodes: DataFrame, edges: DataFrame, path: str,
                 fmt: str = "parquet") -> None:
    """Replaces import_graph_to_neo4j / create_graph_visualization: the graph
    IS two tables; JSON (Cytoscape-style doc) and GraphML for interop."""
    if fmt == "parquet":
        nodes.write.mode("overwrite").parquet(f"{path}/nodes")
        edges.write.mode("overwrite").parquet(f"{path}/edges")
    elif fmt == "json":
        from .sources.exports import export_json
        export_json(nodes, edges, path)
    elif fmt == "graphml":
        from .sources.exports import export_graphml
        export_graphml(nodes, edges, path)
    elif fmt == "html":
        from .sources.exports import export_html
        export_html(nodes, edges, path)
    else:
        raise ValueError(f"unknown fmt {fmt!r}")


_ANN_METHODS = {"lsh": lsh_topk, "ivf": ivf_topk, "pq": pq_topk,
                "ivfpq": ivf_pq_topk}


def search_semantic(corpus: DataFrame, query: DataFrame, k: int = 10,
                    min_similarity: float = 0.0,
                    approximate: bool | str = False,
                    where: F.Column | str | None = None) -> DataFrame:
    """ANN search with optional metadata pre-filter and min-similarity
    threshold (reference search_semantic_documents: n_results, where,
    min_similarity — vector_store.py:158-215, scripts/search.py:74). The
    filter is applied inside the operator, before scoring/bucketing.

    approximate: False = exact brute force; True or 'lsh' = sign-projection
    buckets; 'ivf' = inverted lists; 'pq' = product-quantized ADC scan;
    'ivfpq' = lists + codes (the billion-vector serving shape)."""
    if approximate is True:
        fn = lsh_topk
    elif approximate:
        try:
            fn = _ANN_METHODS[approximate]
        except KeyError:
            raise ValueError(
                f"unknown ANN method {approximate!r} "
                f"(want one of {sorted(_ANN_METHODS)})") from None
    else:
        fn = brute_force_topk
    return fn(corpus, query, k=k, where=where).filter(F.col("cos") >= min_similarity)


def get_extraction_stats(mentions: DataFrame) -> dict:
    """Counters the reference tracks per extraction run
    (concept_extractor.py:175-182)."""
    row = mentions.agg(
        F.count(F.lit(1)).alias("mentions"),
        F.countDistinct("norm_term").alias("distinct_terms"),
        F.countDistinct("conv_id").alias("conversations"),
        F.round(F.avg("confidence"), 6).alias("avg_confidence"),
    ).collect()[0]
    return row.asDict()


def get_graph_statistics(nodes: DataFrame, edges: DataFrame,
                         top_k: int = 10) -> dict:
    """Counts, density, degree stats + top concepts (server.py:1482-1522)."""
    stats = graph_stats(nodes, edges)
    stats["top_concepts"] = [
        r["canonical_term"] for r in top_k_nodes(nodes, top_k).collect()]
    stats["top_by_degree"] = [
        r["node"] for r in degree_centrality(edges)
        .orderBy(F.desc("degree"), F.asc("node")).limit(top_k).collect()]
    return stats
