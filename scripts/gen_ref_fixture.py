#!/usr/bin/env python
"""Generate knowledge_extraction_pipeline_spark/ref_fixture.py: the expected
nodes/edges of the deterministic (no-fuzzy) transcripts pipeline at
_PIPE_CONVS conversations, computed by the REFERENCE's own functions
(tests/ref_oracle.py imports them from /root/reference — exact_string_resolution,
known_alias_resolution, extract_cooccurrence_relationships,
infer_relationship_type). The fixture is the independent oracle for the
driver's kg_pipeline_*_exact queries: DuckDB evaluates it as a VALUES list.

Regenerate with:  python scripts/gen_ref_fixture.py
(only needed if the transcript generator or _PIPE_CONVS changes)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tests"))

N_CONVS = 200  # keep in sync with queries._PIPE_CONVS


def _chunks_single_process(rows, min_words=30, max_words=200,
                           boundary_threshold=0.35, sim_threshold=0.5):
    """Single-process evaluation of the semantic-chunk spec (accumulate
    turns; close on max_words overflow or min_words+topic-boundary; merge
    small similar neighbors) over the collected transcripts — the oracle for
    the DISTRIBUTED applyInPandas scan (grouping, per-conv ordering, schema).
    Uses the same pure deterministic helpers (_hash_embed, _topic_cluster);
    the loop itself is evaluated here without Spark."""
    from collections import defaultdict

    import numpy as np

    from knowledge_extraction_pipeline_spark.operators.chunking import (
        _hash_embed,
        _topic_cluster,
    )

    by_conv = defaultdict(list)
    for r in rows:
        by_conv[r["conv_id"]].append((r["turn_idx"], r["text"]))

    out_rows = []
    for conv in sorted(by_conv):
        turns = sorted(by_conv[conv])
        texts = [t for _, t in turns]
        embs = _hash_embed(texts)
        sims = (embs[:-1] * embs[1:]).sum(axis=1) if len(turns) > 1 else []
        chunks, cur, cur_words, first = [], [], 0, 0

        def flush(last_i):
            nonlocal cur, cur_words, first
            if not cur:
                return
            text = " ".join(cur)
            chunks.append({"text": text,
                           "first": turns[first][0], "last": turns[last_i][0],
                           "n_words": len(text.split()), "coherence": 0.0})
            cur, cur_words = [], 0
            first = last_i + 1

        for i, (_, text) in enumerate(turns):
            w = len((text or "").split())
            if cur and cur_words + w > max_words:
                flush(i - 1)
            cur.append(text)
            cur_words += w
            if cur_words >= min_words and i < len(turns) - 1 \
                    and sims[i] < boundary_threshold:
                flush(i)
        flush(len(turns) - 1)

        ce = _hash_embed([c["text"] for c in chunks])
        for j in range(1, len(chunks)):
            chunks[j]["coherence"] = round(float((ce[j - 1] * ce[j]).sum()), 6)

        # merge pass
        merged = []
        embs2 = _hash_embed([c["text"] for c in chunks])
        for j, c in enumerate(chunks):
            if (merged and (merged[-1]["n_words"] < min_words
                            or c["n_words"] < min_words)
                    and merged[-1]["n_words"] + c["n_words"] <= max_words):
                prev_emb = _hash_embed([merged[-1]["text"]])[0]
                if float(np.dot(prev_emb, embs2[j])) > sim_threshold:
                    merged[-1]["text"] += " " + c["text"]
                    merged[-1]["last"] = c["last"]
                    merged[-1]["n_words"] = len(merged[-1]["text"].split())
                    continue
            merged.append(dict(c))
        topics = _topic_cluster(_hash_embed([c["text"] for c in merged]))
        for j, c in enumerate(merged):
            out_rows.append((conv, j, int(c["first"]), int(c["last"]),
                             int(c["n_words"]), float(c["coherence"]),
                             int(topics[j])))
    return out_rows


def _fuzzy_pin(spark):
    """Collect the fuzzy pipeline's nodes/edges exactly as the registered
    kg_pipeline_nodes / kg_pipeline_edges queries project them."""
    from knowledge_extraction_pipeline_spark.queries import (
        kg_pipeline_edges,
        kg_pipeline_nodes,
    )

    nodes = sorted(tuple(r) for r in
                   kg_pipeline_nodes(spark, "").collect())
    edges = sorted(tuple(r) for r in
                   kg_pipeline_edges(spark, "").collect())
    return nodes, edges


def main():
    from knowledge_extraction_pipeline_spark.functions.lexicon import (
        apply_alias_py,
        normalize_term_py,
    )
    from knowledge_extraction_pipeline_spark.session import get_spark
    from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
        generate_transcripts,
    )
    from ref_oracle import concepts_from_rows, graph_tools, oracle_graph

    T = lambda s: apply_alias_py(normalize_term_py(s))

    spark = get_spark(app_name="gen-ref-fixture", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    rows = generate_transcripts(spark, N_CONVS) \
        .select("conv_id", "turn_idx", "text").collect()

    # Pin the engine's own FUZZY pipeline output (LSH + CC canonicalization —
    # semantics the reference cannot adjudicate because it never fuzzy-merges;
    # P/R >= 0.95 vs the exact path is gated in tests/test_parity.py). This is
    # a REGRESSION pin, not an independent oracle: it catches silent drift.
    # Determinism across parallelism is asserted by regenerating at a second
    # cluster width and requiring identical rows.
    fuzzy_nodes, fuzzy_edges = _fuzzy_pin(spark)
    spark.stop()
    spark2 = get_spark(app_name="gen-ref-fixture-check", master="local[3]",
                       extra_conf={"spark.sql.shuffle.partitions": "5"})
    spark2.sparkContext.setLogLevel("ERROR")
    fn2, fe2 = _fuzzy_pin(spark2)
    spark2.stop()
    assert fuzzy_nodes == fn2 and fuzzy_edges == fe2, \
        "fuzzy pipeline output varies with parallelism — do not pin"

    entities, rels = oracle_graph(rows)

    node_rows = sorted(
        (T(e.get("canonical_term") or e.get("term")),
         e.get("category", "concept"),
         int(e.get("evidence_count", 1)))
        for e in entities
    )
    edge_rows = []
    for r in rels:
        m = re.search(r"in (\d+) chunks", r.get("explanation", ""))
        common = int(m.group(1)) if m else len(r.get("evidence", []))
        edge_rows.append((T(r["source"]), r["type"], T(r["target"]),
                          common, round(r["strength"], 6),
                          round(r["confidence"], 6)))
    edge_rows.sort()

    chunk_rows = _chunks_single_process(rows)

    out = Path(__file__).resolve().parents[1] / \
        "knowledge_extraction_pipeline_spark" / "ref_fixture.py"
    with out.open("w") as f:
        f.write('"""GENERATED by scripts/gen_ref_fixture.py — do not edit.\n\n')
        f.write("Expected output of the deterministic (no-fuzzy) transcripts\n")
        f.write(f"pipeline at {N_CONVS} conversations, computed by the\n")
        f.write("REFERENCE implementation itself (graph_tools.exact_string_resolution\n")
        f.write("+ known_alias_resolution + extract_cooccurrence_relationships +\n")
        f.write("type_relationships.infer_relationship_type) via tests/ref_oracle.py.\n")
        f.write('"""\n\n')
        f.write(f"N_CONVS = {N_CONVS}\n\n")
        f.write("# (canon, first_category, mention_count)\n")
        f.write(f"NODES = {node_rows!r}\n\n")
        f.write("# (subj, pred, obj, common, strength, confidence)\n")
        f.write(f"EDGES = {edge_rows!r}\n\n")
        f.write("# (conv_id, chunk_index, first_turn_idx, last_turn_idx,\n")
        f.write("#  n_words, coherence, topic_cluster) — single-process\n")
        f.write("# evaluation of the semantic-chunk spec (see generator)\n")
        f.write(f"CHUNKS = {chunk_rows!r}\n\n")
        f.write("# ENGINE regression pins (fuzzy LSH+CC path — no external\n")
        f.write("# oracle exists; parallelism-invariance asserted at generation)\n")
        f.write("# (canon, canonical_term, primary_category, primary_importance,\n")
        f.write("#  avg_confidence, mention_count)\n")
        f.write(f"NODES_FUZZY = {fuzzy_nodes!r}\n\n")
        f.write("# (subj, pred, obj, common, strength, confidence)\n")
        f.write(f"EDGES_FUZZY = {fuzzy_edges!r}\n")
    print(f"wrote {out}: {len(node_rows)} nodes, {len(edge_rows)} edges, "
          f"{len(chunk_rows)} chunks, {len(fuzzy_nodes)} fuzzy nodes, "
          f"{len(fuzzy_edges)} fuzzy edges")


if __name__ == "__main__":
    main()
