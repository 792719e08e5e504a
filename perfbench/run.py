#!/usr/bin/env python3
"""Benchmark of the KG-construction pipeline, one workload per run.

    python3 perfbench/run.py --workload durable_build --seed 1 --seconds 8 --trace 0

A run is one fresh process: set-up (program import, Spark session, one untimed
warm-up repetition), then timed warm repetitions until --seconds have passed
and the workload's minimum count has run (one in a traced run), in a closed
loop with one client and one job at a time on local[n]. Every repetition's
output is checked. The last line of stdout is the result JSON: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1 (the traced run
also times its untraced repetitions, to report the tracing overhead). Metric names and units come from BENCHMARK.json. A full artifact
(host facts, noise diagnostics, every repetition, spans) is kept under
perfbench/_work/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
MAX_CORES = 4
REP_TIMEOUT_S = 90  # a repetition slower than this counts as failed
LOOP_CAP_S = 100  # start no timed repetition beyond the minimum after this much of the run


def attempt(run, inspect, check, cpu, held) -> dict:
    """One repetition: ``run`` is timed; ``inspect`` reads its output back
    and ``check`` lists what is wrong with it, both untimed. An exception,
    an overrun or any listed problem marks the repetition failed."""
    rec = {"problems": []}
    t0, cpu0 = time.perf_counter(), cpu()
    try:
        run()
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = cpu() - cpu0
        rec["cached_mb"] = held()
        rec["result"] = inspect()
        rec["problems"] = check(rec["result"])
    except Exception:
        rec["problems"].append(traceback.format_exc())
    rec.setdefault("wall_s", time.perf_counter() - t0)
    if rec["wall_s"] > REP_TIMEOUT_S:
        rec["problems"].append(f"timed out: {rec['wall_s']:.1f} s > {REP_TIMEOUT_S} s")
    rec["ok"] = not rec["problems"]
    return rec


def summarize(reps: list[dict]) -> dict:
    failed = sum(not r["ok"] for r in reps)
    return {"correct": failed == 0, "attempted": len(reps), "failed": failed}


def start_session(cores: int, work: Path):
    from knowledge_extraction_pipeline_spark.session import get_spark

    # keep shuffle, spill and temporary files inside the checkout
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM it launched (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    from perfbench import probes

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    noise_start = probes.noise()
    t_import = time.perf_counter()
    try:
        import pyspark

        from perfbench import trace, workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = WORK / f"run-{os.getpid()}"
    cores = min(MAX_CORES, probes.host_facts()["nproc"])
    spark = start_session(cores, work)
    session_s = time.perf_counter() - t_import
    host = {**probes.host_facts(), "pyspark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version")}
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl = workloads.WORKLOADS[args.workload](args.seed, work)
        t_gen = time.perf_counter()
        input_facts = wl.generate(spark)
        wl.bind(spark)
        gen_s = time.perf_counter() - t_gen

        reps: list[dict] = []

        def rep(tracer, first):
            return attempt(lambda: wl.run(tracer), wl.inspect,
                           lambda res: workloads.check(wl.name, wl.seed, res, first),
                           lambda: probes.process_tree_cpu(jvm_pid),
                           lambda: probes.cached_mb(wl.spark))

        def release():
            leaked = probes.release(wl.spark)
            if leaked:
                print(f"perfbench: {leaked} persisted RDDs survived the release",
                      file=sys.stderr)

        warm = rep(trace.NoTrace(), None)
        release()
        setup_s = session_s + warm["wall_s"]
        first = warm["result"] if warm["ok"] else None
        t_loop = time.perf_counter()
        timed: list[dict] = []
        # a traced run's timed repetitions only anchor trace.overhead_s and
        # the speed-up; needing just one keeps its extra passes inside 180 s
        min_timed = 1 if args.trace else wl.min_timed
        while len(timed) < min_timed or (time.perf_counter() - t_loop < args.seconds
                                         and time.perf_counter() - t_import < LOOP_CAP_S):
            timed.append(rep(trace.NoTrace(), first))
            release()
        reps = [warm, *timed]
        wall_s = statistics.median(r["wall_s"] for r in timed)
        e2e = {
            "wall_s": wall_s,
            "cpu_s": statistics.median(r.get("cpu_s", 0.0) for r in timed),
            "setup_s": setup_s,
            "cached_mb": statistics.median(r.get("cached_mb", 0.0) for r in timed),
        }
        layers, spans = {}, []
        if args.trace:
            layers, spans = traced_run(wl, spark, jvm_pid, rep, release, reps,
                                       first, session_s, wall_s, work)
        summary = summarize(reps)
        e2e["ok_ratio"] = 1.0 - summary["failed"] / summary["attempted"]
        values = layers if args.trace else e2e
        kind = "per_layer" if args.trace else "end_to_end"
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec[kind]}
        artifact = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": f"local[{cores}]",
            "host": host,
            "input": input_facts, "input_gen_s": gen_s,
            "noise_start": noise_start, "noise_end": probes.noise(),
            "end_to_end": e2e, "per_layer": layers,
            "reps": reps,
            "spans": spans,
        }
        triples = timed[0].get("result", {}).get("triples")
        if triples:
            artifact["triples_per_s"] = triples / wall_s
        for r in reps:
            for p in r["problems"]:
                print(f"perfbench: repetition failed: {p}", file=sys.stderr)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    out = results / f"{time.strftime('%Y%m%dT%H%M%S')}-{wl.name}-s{args.seed}-t{args.trace}.json"
    out.write_text(json.dumps(artifact, indent=1, default=str))
    print(f"perfbench: artifact {out.relative_to(ROOT)}", file=sys.stderr)
    print(json.dumps({**summary, "metrics": metrics}))
    return 0


def traced_run(wl, spark, jvm_pid, rep, release, reps, first, session_s, wall_s, work):
    """One traced repetition, the layer counters, the pandas-UDF extract
    timing and one local[1] repetition for the speed-up."""
    from knowledge_extraction_pipeline_spark.operators.extract import extract_stage

    from perfbench import probes, trace, workloads

    tracer = trace.Tracer(spark, jvm_pid)
    traced = rep(tracer, first)
    reps.append(traced)
    totals = tracer.layer_totals()
    counts = workloads.layer_counts(wl, tracer) if traced["ok"] else {}
    release()

    pandas_wall = pandas_cpu = 0.0  # vocab_resolve has no transcripts to extract
    if wl.transcripts:
        # the second pass is reported: the first starts the Python workers
        for _ in range(2):
            t0, cpu0 = time.perf_counter(), probes.process_tree_cpu(jvm_pid)
            for df in extract_stage(wl.src, engine="pandas"):
                df.count()
            pandas_wall = time.perf_counter() - t0
            pandas_cpu = probes.process_tree_cpu(jvm_pid) - cpu0
        release()

    spark.stop()
    wl.bind(start_session(1, work))
    single = rep(trace.NoTrace(), first)
    reps.append(single)
    release()
    speedup = single["wall_s"] / wall_s

    def total(layer, key):
        return totals.get(layer, {}).get(key, 0.0)

    def span_wall(layer, name):
        return sum(s["wall_s"] for s in tracer.spans
                   if s["layer"] == layer and s["name"] == name)

    tables = [s for s in tracer.spans if s["layer"] == "tables"]
    m = {
        "session.start_s": session_s,
        "extract.pandas_wall_s": pandas_wall,
        "extract.pandas_cpu_s": pandas_cpu,
        "link.shuffle_mb": total("link", "shuffle_write_mb"),
        "materialize.plan_s": span_wall("materialize", "materialize_stage"),
        "materialize.nodes_wall_s": span_wall("materialize", "nodes"),
        "materialize.edges_wall_s": span_wall("materialize", "edges"),
        "tables.write_s": total("tables", "wall_s"),
        "tables.writes": len(tables),
        "tables.written_mb": sum(s.get("written_mb", 0.0) for s in tables),
        "pipeline.overhead_s": total("pipeline", "wall_s"),
        "trace.overhead_s": traced["wall_s"] - wall_s,
        "scaling.speedup_1_to_n": speedup,
    }
    for layer, keys in {
        "extract": ("wall_s", "cpu_s", "tasks", "input_mb", "gc_s"),
        "link": ("wall_s", "cpu_s"),
        "canonicalize": ("wall_s", "cpu_s"),
        "materialize": ("cpu_s", "tasks", "shuffle_write_mb", "shuffle_read_mb",
                        "spill_mb", "gc_s", "peak_exec_mem_mb"),
    }.items():
        for key in keys:
            m[f"{layer}.{key}"] = total(layer, key)
    for name in ("extract.mentions", "extract.triples", "link.terms", "link.edges_alias",
                 "link.edges_resolver_norm", "link.edges_charsort", "link.edges_fuzzy",
                 "link.lsh_candidates", "link.lsh_verified_ratio", "canonicalize.cc_edges",
                 "canonicalize.cc_distributed", "canonicalize.components",
                 "canonicalize.merged_terms", "materialize.exchanges",
                 "materialize.sort_aggregates", "materialize.sort_merge_joins",
                 "materialize.nodes", "materialize.edges"):
        m[name] = counts.get(name, 0)
    return m, tracer.spans


if __name__ == "__main__":
    sys.exit(main())
