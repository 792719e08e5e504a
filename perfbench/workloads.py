"""The three workloads, their output digests and their output checks.

Each workload generates its input from the seed (untimed), then runs
repetitions. A repetition's timed window starts at the input scan and ends
when the output is complete; ``inspect`` then reads the output back, untimed,
for the checks.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knowledge_extraction_pipeline_spark.operators.canonicalize import (
    DRIVER_CC_THRESHOLD,
    canonicalize_stage,
)
from knowledge_extraction_pipeline_spark.operators.extract import extract_stage
from knowledge_extraction_pipeline_spark.functions.text import normalize_term_resolver
from knowledge_extraction_pipeline_spark.operators.link import (
    _word_aligned_similar,
    distinct_terms,
    link_stage,
    minhash_candidate_edges,
)
from knowledge_extraction_pipeline_spark.operators.materialize import materialize_stage
from knowledge_extraction_pipeline_spark.plans import pipeline
from knowledge_extraction_pipeline_spark.sources.tables import checkpoint_write, read_manifest

from . import inputs, probes

# Input sizes. Warm repetitions are dominated by per-stage scheduling,
# planning and JIT compilation, not by data volume, so these are sized to fit
# a whole run (set-up, one warm-up and at least two timed repetitions) inside
# the time the benchmark may take.
CHAT_CONVS = 2_000
AGENT_CONVS = 250
VOCAB_BASES = 6_000

EXPECTED_PATH = Path(__file__).parent / "expected.json"  # pinned output digests


def digest(df: DataFrame, *extra) -> dict:
    """Row count plus two order-insensitive content hashes of every column
    (maps hashed as sorted entry arrays)."""
    cols = [F.array_sort(F.map_entries(f.name)) if isinstance(f.dataType, T.MapType)
            else F.col(f.name) for f in df.schema.fields]
    h = F.xxhash64(*cols)
    row = df.agg(F.count(F.lit(1)).alias("rows"),
                 F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("hsum"),
                 F.bit_xor(h).alias("hxor"), *extra).collect()[0]
    return row.asDict()


class Ops:
    """The stage functions a repetition calls, wrapped by the tracer."""

    def __init__(self, tracer):
        self.extract_stage = tracer.wrap("extract", extract_stage)
        self.distinct_terms = tracer.wrap("link", distinct_terms)
        self.link_stage = tracer.wrap("link", link_stage)
        self.canonicalize_stage = tracer.wrap("canonicalize", canonicalize_stage)
        self.materialize_stage = tracer.wrap("materialize", materialize_stage)


class Workload:
    name = ""
    transcripts = True  # False: the input is a vocabulary, extract never runs
    min_timed = 2  # timed repetitions a run makes at least; it reports their median

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.path = work / "inputs" / self.name

    def bind(self, spark) -> None:
        self.spark = spark
        self.src = spark.read.parquet(str(self.path))

    def build_outputs(self, nodes: DataFrame, edges: DataFrame) -> dict:
        return {"nodes": digest(nodes, F.sum("mention_count").alias("mentions")),
                "edges": digest(edges, F.min("common").alias("min_common"))}


def assigned(asn: DataFrame) -> dict:
    a = asn.agg(F.count(F.lit(1)).alias("assigned"),
                F.count_if(F.col("canon").isNull()).alias("unassigned")).collect()[0]
    return a.asDict()


class ChatBuild(Workload):
    """In-memory handoff of the four stages, as bench.py composes them."""

    name = "chat_build"

    def generate(self, spark) -> dict:
        inputs.chat_transcripts(spark, CHAT_CONVS, self.seed).write.parquet(str(self.path))
        return {"convs": CHAT_CONVS}

    def run(self, tracer) -> None:
        ops = Ops(tracer)
        m, tr = ops.extract_stage(self.src)
        terms = ops.distinct_terms(m).localCheckpoint(eager=True)
        asn = ops.canonicalize_stage(terms, ops.link_stage(m, terms=terms)) \
            .localCheckpoint(eager=True)
        nodes, edges = ops.materialize_stage(self.spark, m, tr, asn)
        self.outputs = self.build_outputs(nodes, edges)
        self.m, self.tr, self.terms, self.asn = m, tr, terms, asn

    def inspect(self) -> dict:
        return {"outputs": self.outputs, "mentions": self.m.count(),
                "triples": self.tr.count(), "terms": self.terms.count(),
                **assigned(self.asn)}


class DurableBuild(Workload):
    """The checkpointed pipeline, plans.pipeline.run_pipeline, into a fresh
    run_dir per repetition, over long agent turns."""

    name = "durable_build"

    def generate(self, spark) -> dict:
        inputs.agent_transcripts(spark, AGENT_CONVS, self.seed).write.parquet(str(self.path))
        self.reps = 0
        return {"convs": AGENT_CONVS, "input_mb": round(probes.dir_mb(self.path), 3)}

    def run(self, tracer) -> None:
        # a fresh run_dir: a committed stage would be skipped, and the
        # repetition would measure a no-op resume
        self.reps += 1
        self.run_dir = str(self.work / "runs" / f"rep{self.reps}")
        if not tracer.enabled:
            self.res = pipeline.run_pipeline(self.spark, self.src, self.run_dir)
            return
        ops = Ops(tracer)
        saved = {k: getattr(pipeline, k) for k in
                 ("extract_stage", "distinct_terms", "link_stage",
                  "canonicalize_stage", "materialize_stage", "checkpoint_write")}

        def traced_write(df, run_dir, stage, table, *a, **kw):
            with tracer.span("tables", "checkpoint_write") as rec:
                out = checkpoint_write(df, run_dir, stage, table, *a, **kw)
            rec["written_mb"] = probes.dir_mb(f"{run_dir}/{stage}/{table}")
            return out

        for k in saved:
            setattr(pipeline, k, getattr(ops, k, traced_write))
        try:
            with tracer.span("pipeline", "run_pipeline"):
                self.res = pipeline.run_pipeline(self.spark, self.src, self.run_dir)
        finally:
            for k, fn in saved.items():
                setattr(pipeline, k, fn)

    def inspect(self) -> dict:
        res = self.res
        rows = {t: meta["rows"] for t, meta in
                read_manifest(self.run_dir)["stages"]["extract"]["tables"].items()}
        out = {"outputs": self.build_outputs(res.nodes, res.edges),
               "recomputed": res.recomputed_stages,
               "mentions": rows["mentions"], "triples": rows["triples_raw"],
               "terms": distinct_terms(res.mentions).count(),
               **assigned(res.assignments)}
        shutil.rmtree(self.run_dir, ignore_errors=True)
        return out


class VocabResolve(Workload):
    """Link and canonicalize over a large vocabulary with planted variants."""

    name = "vocab_resolve"
    transcripts = False
    # a repetition takes ~4.5 s, so four fit in about what a durable_build
    # run's two take, and their median absorbs a steal burst in one of them
    min_timed = 4

    def generate(self, spark) -> dict:
        # plain Python data, so it is written without Spark: the JVM's first
        # jobs are left to the warm-up repetition
        self.terms, self.planted = inputs.vocabulary(VOCAB_BASES, self.seed)
        inputs.write_terms(self.terms, self.path)
        self.accepted = None
        return {"bases": VOCAB_BASES, "terms": len(self.terms),
                "planted": len(self.planted)}

    def expected_merges(self) -> set[str]:
        """Planted variants the link rules must merge with their base. A
        substitution is only expected to merge when the program's own fuzzy
        verifier accepts the pair, on the normalized terms."""
        if self.accepted is None:
            subs = [(v, b) for v, b, kind in self.planted if kind == "substitution"]
            pairs = self.spark.createDataFrame(subs, "variant string, base string")
            self.accepted = {r.variant for r in pairs.filter(_word_aligned_similar(
                normalize_term_resolver(F.col("variant")),
                normalize_term_resolver(F.col("base")))).select("variant").collect()}
        return self.accepted

    def run(self, tracer) -> None:
        ops = Ops(tracer)
        self.asn = ops.canonicalize_stage(self.src, ops.link_stage(self.src, terms=self.src))
        self.outputs = {"assignments": digest(self.asn)}

    def inspect(self) -> dict:
        canon = dict(self.asn.collect())
        planted: dict[str, list[int]] = {}  # kind -> [planted, missed]
        accepted = self.expected_merges()
        for v, base, kind in self.planted:
            if kind == "substitution" and v not in accepted:
                kind = "substitution_rejected_by_design"
            tally = planted.setdefault(kind, [0, 0])
            tally[0] += 1
            tally[1] += canon.get(v) is None or canon.get(v) != canon.get(base)
        return {"outputs": self.outputs, "terms": len(self.terms),
                "assigned": len(canon), "unassigned": sum(c is None for c in canon.values()),
                "planted": planted}


WORKLOADS = {w.name: w for w in (ChatBuild, DurableBuild, VocabResolve)}
STAGES = ["extract", "link", "canonicalize", "materialize"]


def check(workload: str, seed: int, result: dict, first: dict | None) -> list[str]:
    """Every problem with one repetition's output; empty means it passed."""
    problems = []
    pinned = json.loads(EXPECTED_PATH.read_text()).get(workload, {}).get(str(seed))
    if pinned is not None and result["outputs"] != pinned:
        problems.append(f"outputs differ from the digests pinned for seed {seed}")
    return problems + invariants(workload, result, first)


def invariants(workload: str, result: dict, first: dict | None) -> list[str]:
    """The checks that hold at any seed."""
    problems = []
    outs = result["outputs"]
    if first is not None and outs != first["outputs"]:
        problems.append("outputs differ from the warm-up repetition's")
    if result["assigned"] != result["terms"] or result["unassigned"]:
        problems.append(f"{result['assigned']} of {result['terms']} terms assigned, "
                        f"{result['unassigned']} without a canon")
    if workload == "vocab_resolve":
        # variants the documented link rules cover must all be merged; a
        # substitution the word-aligned verifier rejects is only reported
        missed = {k: m for k, (_, m) in result["planted"].items()
                  if m and k != "substitution_rejected_by_design"}
        if missed:
            problems.append(f"planted variants not sharing their base's canon: {missed}")
        return problems
    nodes, edges = outs["nodes"], outs["edges"]
    if not nodes["rows"] or not edges["rows"]:
        problems.append("no nodes or no edges")
    if edges["min_common"] is not None and edges["min_common"] < 2:
        problems.append(f"an edge has common={edges['min_common']} < 2")
    if nodes["mentions"] != result["mentions"]:
        problems.append(f"nodes hold {nodes['mentions']} mentions of {result['mentions']}")
    if result.get("recomputed", STAGES) != STAGES:
        problems.append(f"only {result['recomputed']} recomputed: the run resumed")
    return problems


def layer_counts(wl: Workload, tracer) -> dict:
    """Work counts of each layer, read from the traced repetition's forced
    outputs after it ended."""
    out = tracer.outputs
    c: dict[str, float] = {}
    if "mentions" in out:
        c["extract.mentions"] = out["mentions"].count()
        c["extract.triples"] = out["triples_raw"].count()
    terms = out.get("terms", wl.src)  # vocab_resolve's input is the vocabulary
    cand = out["candidates"]
    c["link.terms"] = terms.count()
    phases = dict(cand.groupBy("phase").count().collect())
    for phase in ("alias", "resolver_norm", "charsort", "fuzzy"):
        c[f"link.edges_{phase}"] = phases.get(phase, 0)
    # every candidate the LSH bands propose, verified or not
    funnel = dict(minhash_candidate_edges(terms, ambiguous_band=(0.0, 1.01))
                  .groupBy("phase").count().collect())
    c["link.lsh_candidates"] = funnel.get("fuzzy", 0) + funnel.get("ambiguous", 0)
    c["link.lsh_verified_ratio"] = funnel.get("fuzzy", 0) / max(1, c["link.lsh_candidates"])
    cc_edges = (cand.filter(F.coalesce(F.col("phase") != "ambiguous", F.lit(True)))
                .select("src", "dst").filter(F.col("src") != F.col("dst"))
                .distinct().count())
    asn = out["assignments"]
    c["canonicalize.cc_edges"] = cc_edges
    c["canonicalize.cc_distributed"] = int(cc_edges > DRIVER_CC_THRESHOLD)
    c["canonicalize.components"] = asn.select("canon").distinct().count()
    c["canonicalize.merged_terms"] = asn.filter(F.col("canon") != F.col("norm_term")).count()
    if "nodes" in out:
        c["materialize.nodes"] = out["nodes"].count()
        c["materialize.edges"] = out["edges"].count()
        for k, v in probes.plan_counts(
                wl.spark, [tracer.unforced["nodes"], tracer.unforced["edges"]]).items():
            c[f"materialize.{k}"] = v
    return c
