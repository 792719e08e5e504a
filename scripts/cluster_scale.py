#!/usr/bin/env python
"""One scaling measurement on a REAL local Spark standalone cluster:
master + N single-core workers (each worker pinned to its own CPU core, so
each 1-core executor JVM lives on its own core exactly like an executor
host), driver + master pinned to separate cores. This is the letter of the
north rule — "run via spark-submit on a multi-executor cluster at two
cluster sizes (N and 4N executors)" — with executor JVMs that are
structurally IDENTICAL at both sizes (same heap, same GC, one core each);
only the executor COUNT changes, so the ratio measures the engine, not
shared-JVM artifacts (a single local[4] JVM pays stop-the-world GC across
all four task threads at once, which four independent executor JVMs do not).

Usage: python scripts/cluster_scale.py <n_workers> <n_convs>
         [--exec-cpus 0,1,2,3] [--aux-cpus 4,5] [--port-base 7077]
Prints:  SCALE <wall_seconds> <triples>
"""

from __future__ import annotations

import argparse
import atexit
import os
import socket
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# scaling runs opt into tmpfs shuffle dirs (see session.get_spark)
os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")

EXEC_GC = "-XX:+UseParallelGC"
EXEC_MEM = "6g"
WORKER_MEM = "7g"


def _jars_cp() -> str:
    import pyspark
    return str(Path(pyspark.__file__).parent / "jars" / "*")


def _wait_port(port: int, timeout: float = 60.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        with socket.socket() as s:
            if s.connect_ex(("127.0.0.1", port)) == 0:
                return
        time.sleep(0.3)
    raise RuntimeError(f"port {port} never opened")


def launch_cluster(n_workers: int, exec_cpus: list[str], aux_cpus: str,
                   port: int) -> tuple[str, list[subprocess.Popen]]:
    """Master on aux cpus; each worker (and the executor it spawns, which
    inherits the affinity mask) on its own core."""
    cp = _jars_cp()
    logs = Path(os.environ.get("CLUSTER_SCALE_LOGDIR", "/tmp/cluster_scale"))
    logs.mkdir(parents=True, exist_ok=True)
    procs: list[subprocess.Popen] = []
    import pyspark
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS="/dev/shm/spark-local",
               SPARK_LOG_DIR=str(logs), SPARK_NO_DAEMONIZE="1",
               # ExecutorRunner builds the executor JVM command through the
               # launcher, which requires a real SPARK_HOME layout
               SPARK_HOME=str(Path(pyspark.__file__).parent),
               # pip layout has no launcher/target build dir — tell the
               # launcher the scala version instead of letting it probe
               SPARK_SCALA_VERSION="2.13",
               PYSPARK_PYTHON=sys.executable)
    master_log = open(logs / f"master-{port}.log", "w")
    procs.append(subprocess.Popen(
        ["taskset", "-c", aux_cpus, "java", "-cp", cp, "-Xmx1g",
         "org.apache.spark.deploy.master.Master",
         "--host", "127.0.0.1", "--port", str(port), "--webui-port", "0"],
        stdout=master_log, stderr=subprocess.STDOUT, env=env))
    _wait_port(port)
    url = f"spark://127.0.0.1:{port}"
    for i, cpu in enumerate(exec_cpus[:n_workers]):
        wlog = open(logs / f"worker-{port}-{i}.log", "w")
        procs.append(subprocess.Popen(
            ["taskset", "-c", cpu, "java", "-cp", cp, "-Xmx768m",
             "org.apache.spark.deploy.worker.Worker", url,
             "--cores", "1", "--memory", WORKER_MEM, "--webui-port", "0",
             "--work-dir", str(logs / f"work-{port}-{i}")],
            stdout=wlog, stderr=subprocess.STDOUT, env=env))
    return url, procs


def run_job(url: str, n_workers: int, n_convs: int, shuffle: int = 8,
            input_parquet: str | None = None, triples_known: int = -1):
    from knowledge_extraction_pipeline_spark.plans.pipeline import run_pipeline
    from knowledge_extraction_pipeline_spark.session import get_spark
    from knowledge_extraction_pipeline_spark.sources.transcripts_gen import (
        generate_transcripts,
    )

    spark = get_spark(
        app_name=f"cluster-scale-{n_workers}w", master=url,
        shuffle_partitions=shuffle,
        extra_conf={
            "spark.executor.cores": "1",
            "spark.executor.memory": EXEC_MEM,
            "spark.cores.max": str(n_workers),
            "spark.executor.extraJavaOptions": EXEC_GC,
            "spark.driver.extraJavaOptions": EXEC_GC,
            # wait=0: on loopback+tmpfs a remote cached-block read is far
            # cheaper than idling a 1-core executor for the 3s default
            # locality timeout (measured: 50.7s vs 61.6s on the 4-exec run)
            "spark.locality.wait": "0s",
            # with a pre-generated input the split count must stay ~PARTS
            # (default 128m packing would fold the ~64 small files into a
            # handful of splits and change the input parallelism); identical
            # conf at both cluster sizes either way
            **({"spark.sql.files.maxPartitionBytes": "4m",
                "spark.sql.files.openCostInBytes": "0"}
               if input_parquet else {}),
            **({"spark.sql.adaptive.enabled": "false"}
               if os.environ.get("CLUSTER_SCALE_AQE_OFF") else {}),
        })
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # guard: exactly n_workers executors, no more (a stale master/worker
        # from a crashed run would silently change the cluster size)
        deadline = time.time() + 60
        while True:
            # getExecutorMemoryStatus has one entry per live executor plus
            # one for the driver — size(), no string parsing
            n_exec = (spark.sparkContext._jsc.sc()
                      .getExecutorMemoryStatus().size() - 1)
            if n_exec == n_workers:
                break
            if time.time() > deadline or n_exec > n_workers:
                raise RuntimeError(
                    f"expected {n_workers} executors, saw {n_exec}")
            time.sleep(1)
        print(f"  executors: {n_exec}", file=sys.stderr, flush=True)
        # untimed warm-up through the same pipeline: JIT/codegen compilation
        # is a per-JVM constant (~10-15 s) that would otherwise be charged
        # against the timed window — identically at both levels, but it is
        # startup cost, not engine throughput (a real cluster is warm).
        if os.environ.get("CLUSTER_SCALE_WARMUP", "1") != "0":
            # warmup sized PER EXECUTOR (4k convs each) so every executor
            # JVM gets the same JIT coverage regardless of cluster size
            tw = generate_transcripts(spark, 4000 * n_workers,
                                      partitions=8 * n_workers).cache()
            tw.count()
            warm = run_pipeline(spark, tw)
            warm.nodes.count(), warm.edges.count()
            tw.unpersist()
            spark.catalog.clearCache()
        # identical partitioning at both levels — coarse enough that driver
        # task-dispatch never idles executors (env-overridable)
        parts = int(os.environ.get("CLUSTER_SCALE_PARTS", "64"))
        if input_parquet:
            # input pre-generated ONCE by the caller and shared read-only by
            # every draw — identical input across draws by construction, and
            # a tmpfs parquet read costs far less untimed wall than
            # regenerating 10⁶ conversations inside each 1-core cluster
            t = spark.read.parquet(input_parquet).cache()
        else:
            t = generate_transcripts(spark, n_convs, partitions=parts).cache()
        n_turns = t.count()
        t0 = time.time()
        res = run_pipeline(spark, t)
        nodes, edges, tr = res.nodes, res.edges, res.triples_raw
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(2) as ex:
            fn, fe = ex.submit(nodes.count), ex.submit(edges.count)
            n_nodes, n_edges = fn.result(), fe.result()
        wall = time.time() - t0
        if triples_known >= 0 and input_parquet:
            # the triple count is a property of the INPUT, and with a shared
            # pre-generated input every draw reads the same bytes — counting
            # it once (first draw) and reusing saves a full untimed
            # re-extraction pass per draw on a 1-core cluster
            n_triples = triples_known
        else:
            n_triples = tr.count()
        print(f"  {n_workers}w: turns={n_turns} triples={n_triples} "
              f"nodes={n_nodes} edges={n_edges} wall={wall:.1f}s",
              file=sys.stderr, flush=True)
        return wall, n_triples
    finally:
        spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("n_workers", type=int)
    ap.add_argument("n_convs", type=int)
    ap.add_argument("--exec-cpus", default="0,1,2,3")
    ap.add_argument("--aux-cpus", default="4,5")
    ap.add_argument("--port-base", type=int, default=7077)
    ap.add_argument("--input-parquet", default=None,
                    help="pre-generated transcripts parquet to read instead "
                         "of generating n_convs in-cluster")
    ap.add_argument("--triples", type=int, default=-1,
                    help="known triple count for this input (skips the "
                         "untimed recount; only honored with --input-parquet)")
    args = ap.parse_args()

    exec_cpus = args.exec_cpus.split(",")
    url, procs = launch_cluster(args.n_workers, exec_cpus, args.aux_cpus,
                                args.port_base)
    atexit.register(lambda: [p.terminate() for p in procs])
    time.sleep(3)  # workers register with the master
    wall, triples = run_job(url, args.n_workers, args.n_convs,
                            input_parquet=args.input_parquet,
                            triples_known=args.triples)
    print(f"SCALE {wall} {triples}", flush=True)


if __name__ == "__main__":
    main()
