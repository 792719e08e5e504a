#!/usr/bin/env python
"""KG-pipeline benchmark. Prints one JSON line, and again after every
scaling draw; the last line is the result:

  {"metric": "kg_pipeline_triples_per_sec", "value": N, "unit": "triples/s",
   "wall_s": ..., "n_convs": ..., "triples": ..., "pipeline_cores": ...,
   "host": {...}, "scaling": {...}}

Headline: triples/s of plans.pipeline.run_pipeline (stages handed over in
memory) on N_CONVS generated conversations at local[<CPUs in this
process's affinity mask>].

Scaling (BASELINE.json: efficiency >= 0.8 between N and 4N executors): the
pinned standalone-cluster protocol at SCALING PROTOCOL below. It pins CPUs
0-15, so it runs only where the affinity mask holds all of them; elsewhere
"scaling" is {"skipped": "<reason>"} and no scaling input is generated.

Env: BENCH_CONVS (default 125000), BENCH_SKIP_SCALING (set: no scaling).
Shuffle and spill go to /dev/shm/spark-local when SPARK_LOCAL_DIRS is unset
and /dev/shm has 4 GB free.

Run: python bench.py
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

N_CONVS = int(os.environ.get("BENCH_CONVS", 125_000))
WARMUP_CONVS = 4000

# ── SCALING PROTOCOL ─────────────────────────────────────────────────────
# scripts/cluster_scale.py runs one draw: a Spark standalone cluster of
# single-core workers, each worker and the executor JVM it spawns pinned to
# its own core pair, the master and the driver (cluster_scale.py and its
# JVM) on a separate pair. Executor JVMs are the same at both levels (1
# core, 6 g heap, ParallelGC, timed_run's warm-up); only their count changes.
#   * level 4N: one cluster, 4 workers on pairs 0-1, 2-3, 4-5, 6-7, master
#     and driver on 8-9;
#   * level N: 4 concurrent 1-worker clusters on the same executor pairs,
#     masters and drivers on 8-9, 10-11, 12-13, 14-15, so each executor
#     sees the load the 4-executor cluster puts on the machine; per-cluster
#     throughput is the level-N throughput;
#   * one input of SCALE_CONVS conversations, generated once to a tmpfs
#     Parquet file every draw reads; the same job conf at both levels;
#   * draws are unconditional (none is retried or dropped for its value);
#     large draws and small batches interleave as DRAWS so that a
#     minutes-long steal episode hits both levels; medians of every wall;
#   * a draw starts only if its estimated wall (the slowest completed draw
#     of its kind, at least EST_S) fits in BUDGET_S since start; the first
#     L and S always run;
#   * the JSON line is printed after every draw and again on SIGTERM;
#   * cluster output goes to temp files: a full 64 KB pipe would stall a
#     cluster and serialize the concurrent level.
PINNED_CPUS = 16
WORKERS = 4
DRAWS = "LSLLL"
SCALE_CONVS = 8 * N_CONVS
SCALE_PARTS = 64
BUDGET_S = 3300.0
EST_S = {"L": 400.0, "S": 1000.0}

_T_START = time.time()
_LATEST_JSON: str | None = None


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def timed_run(spark, transcripts, slots: int,
              triples: int | None = None) -> tuple[float, int]:
    """Warm up, cache and count the input, then time run_pipeline through
    the counts of nodes and edges, which are independent and counted
    concurrently so their stages fill idle task slots. The warm-up is an
    untimed run_pipeline over WARMUP_CONVS conversations per task slot: JIT
    and codegen compilation are per-JVM start-up cost, not engine
    throughput. The triple count is a property of the input, taken after
    the timed window unless the caller passes it.
    Returns (wall_seconds, triples)."""
    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline
    from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
        generate_transcripts,
    )

    tw = generate_transcripts(spark, WARMUP_CONVS * slots,
                              partitions=8 * slots).cache()
    tw.count()
    warm = run_pipeline(spark, tw)
    warm.nodes.count(), warm.edges.count()
    spark.catalog.clearCache()
    t = transcripts.cache()
    n_turns = t.count()
    t0 = time.time()
    res = run_pipeline(spark, t)
    with ThreadPoolExecutor(2) as ex:
        n_nodes, n_edges = ex.map(lambda df: df.count(), (res.nodes, res.edges))
    wall = time.time() - t0
    if triples is None:
        triples = res.triples_raw.count()
    log(f"  {spark.sparkContext.master}: turns={n_turns} triples={triples} "
        f"nodes={n_nodes} edges={n_edges} wall={wall:.1f}s")
    return wall, triples


def scaling_skip_reason(cpus: set[int]) -> str | None:
    """Why the pinned protocol cannot run with this affinity mask, or None."""
    if set(range(PINNED_CPUS)) <= cpus:
        return None
    return (f"the pinned scaling protocol needs CPUs 0-{PINNED_CPUS - 1} "
            f"({PINNED_CPUS} CPUs); this process may run on {len(cpus)}")


def _session(app: str, cores: int):
    from knowledge_extraction_pipeline_spark.session import get_spark

    spark = get_spark(app_name=app, master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def headline(cores: int) -> tuple[float, int]:
    from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
        generate_transcripts,
    )

    spark = _session("bench", cores)
    try:
        return timed_run(spark, generate_transcripts(spark, N_CONVS), cores)
    finally:
        spark.stop()


def _scale_input(cores: int) -> str:
    from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
        generate_transcripts,
    )

    path = tempfile.mkdtemp(prefix="kg_scale_input_", dir="/dev/shm")
    atexit.register(shutil.rmtree, path, True)
    spark = _session("bench-scale-input", cores)
    try:
        generate_transcripts(spark, SCALE_CONVS, partitions=SCALE_PARTS) \
            .write.mode("overwrite").parquet(path)
    finally:
        spark.stop()
    return path


def _clusters(specs: list[tuple[int, str, str, int, str]], input_path: str,
              triples: int | None) -> list[tuple[float, int]]:
    """Run one cluster_scale.py per (workers, exec cpus, master cpus, port,
    log dir) concurrently; every (wall, triples)."""
    procs = []
    for workers, exec_cpus, aux_cpus, port, logdir in specs:
        # the driver shares the master's pair, off the executors' cores
        cmd = ["taskset", "-c", aux_cpus,
               sys.executable, str(ROOT / "scripts" / "cluster_scale.py"),
               str(workers), input_path, "--exec-cpus", exec_cpus,
               "--aux-cpus", aux_cpus, "--port-base", str(port)]
        if triples is not None:
            cmd += ["--triples", str(triples)]
        out, err = tempfile.TemporaryFile("w+"), tempfile.TemporaryFile("w+")
        procs.append((subprocess.Popen(
            cmd, stdout=out, stderr=err, text=True, cwd=str(ROOT),
            env=dict(os.environ, CLUSTER_SCALE_LOGDIR=logdir)), out, err))
    results = []
    for p, out, err in procs:
        p.wait(timeout=3600)
        out.seek(0)
        err.seek(0)
        lines = [ln for ln in out.read().splitlines() if ln.startswith("SCALE ")]
        if not lines:
            raise RuntimeError(f"cluster_scale.py {p.args[5:]} printed no "
                               f"result; stderr tail: {err.read()[-2000:]}")
        _, wall, n = lines[-1].split()
        results.append((float(wall), int(n)))
    return results


def _draw(kind: str, input_path: str, triples: int | None) -> list[tuple[float, int]]:
    if kind == "L":
        pairs = ",".join(f"{2 * i}-{2 * i + 1}" for i in range(WORKERS))
        aux = f"{2 * WORKERS}-{2 * WORKERS + 1}"
        return _clusters([(WORKERS, pairs, aux, 7077, "/tmp/cluster_scale_large")],
                         input_path, triples)
    return _clusters(
        [(1, f"{2 * i}-{2 * i + 1}",
          f"{2 * WORKERS + 2 * i}-{2 * WORKERS + 2 * i + 1}", 7100 + 10 * i,
          f"/tmp/cluster_scale_small_{i}") for i in range(WORKERS)],
        input_path, triples)


def _emit(out: dict) -> None:
    global _LATEST_JSON
    _LATEST_JSON = json.dumps(out)
    print(_LATEST_JSON, flush=True)


def _sigterm_dump(signum, frame):
    # the last complete state is the result; children are torn down with us
    if _LATEST_JSON is not None:
        print(_LATEST_JSON, flush=True)
    os._exit(0)


def scaling(out: dict, cores: int) -> None:
    """The protocol above; updates out["scaling"] and emits after each draw."""
    input_path = _scale_input(cores)
    walls: dict[str, list[float]] = {"L": [], "S": []}
    draw_walls: dict[str, list[float]] = {"L": [], "S": []}
    triples = None
    truncated = False

    def state() -> dict:
        st = {
            "cores_small": 1, "cores_large": WORKERS, "n_convs": SCALE_CONVS,
            "triples": triples,
            "protocol": "bench.py SCALING PROTOCOL: pinned standalone "
                        f"clusters, {WORKERS} single-core workers vs "
                        f"{WORKERS} concurrent 1-worker clusters, draws "
                        f"{DRAWS}, medians",
            "draws_planned": {"large": DRAWS.count("L"),
                              "small": DRAWS.count("S") * WORKERS},
            "time_budget_s": BUDGET_S,
            "truncated_by_time_budget": truncated,
            "draws_large_walls": walls["L"],
            "draws_small_walls": walls["S"],
        }
        if walls["L"] and walls["S"]:
            thr_large = triples / statistics.median(walls["L"])
            thr_small = triples / statistics.median(walls["S"])
            st.update({
                "triples_per_sec_small": round(thr_small, 1),
                "triples_per_sec_large": round(thr_large, 1),
                "speedup": round(thr_large / thr_small, 3),
                "scaling_efficiency": round(thr_large / thr_small / WORKERS, 3),
            })
        return st

    for idx, kind in enumerate(DRAWS):
        est = max([EST_S[kind]] + draw_walls[kind])
        if (walls["L"] and walls["S"]
                and time.time() - _T_START + est > BUDGET_S):
            truncated = True
            log(f"  scaling: next {kind} draw (est {est:.0f}s) would overrun "
                f"{BUDGET_S:.0f}s; {len(DRAWS) - idx} draws not run")
            break
        t0 = time.time()
        runs = _draw(kind, input_path, triples)
        draw_walls[kind].append(time.time() - t0)
        walls[kind].extend(round(w, 3) for w, _ in runs)
        triples = runs[0][1]
        out["scaling"] = state()
        _emit(out)
    out["scaling"] = state()
    _emit(out)


def main():
    import pyspark

    from perfbench.probes import host_facts, noise

    signal.signal(signal.SIGTERM, _sigterm_dump)
    if (os.path.isdir("/dev/shm")
            and shutil.disk_usage("/dev/shm").free >= 4 << 30):
        os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    cpus = os.sched_getaffinity(0)
    host = {**host_facts(), "spark": pyspark.__version__,
            "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
            "noise_start": noise()}
    wall, triples = headline(len(cpus))
    host["noise_end"] = noise()
    out = {
        "metric": "kg_pipeline_triples_per_sec",
        "value": round(triples / wall, 1),
        "unit": "triples/s",
        "wall_s": round(wall, 3),
        "n_convs": N_CONVS,
        "triples": triples,
        "pipeline_cores": len(cpus),
        "host": host,
        "scaling": {},
    }
    reason = ("BENCH_SKIP_SCALING is set" if os.environ.get("BENCH_SKIP_SCALING")
              else scaling_skip_reason(cpus))
    if reason:
        out["scaling"] = {"skipped": reason}
    _emit(out)
    if not reason:
        scaling(out, len(cpus))


if __name__ == "__main__":
    main()
