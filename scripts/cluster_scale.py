#!/usr/bin/env python
"""One scaling draw on a real Spark standalone cluster on this machine: a
master and n single-core workers, each worker (and the executor JVM it
spawns, which inherits its affinity mask) pinned to its own CPUs, the
master pinned to others. Executor JVMs are the same at every cluster size
(one core, 6 g heap, ParallelGC, the same warm-up per executor); only their
count changes. bench.py runs the two-level protocol around it.

Usage: python scripts/cluster_scale.py <n_workers> <input_parquet>
         [--triples N] [--exec-cpus 0-1,2-3] [--aux-cpus 4-5] [--port-base 7077]
Prints:  SCALE <wall_seconds> <triples>
Master and worker logs go to $CLUSTER_SCALE_LOGDIR (default /tmp/cluster_scale).
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

from bench import log, timed_run  # noqa: E402

EXEC_GC = "-XX:+UseParallelGC"
EXEC_MEM = "6g"
WORKER_MEM = "7g"
SHUFFLE_PARTITIONS = 8


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
    inherits the affinity mask) on its own cpus."""
    import pyspark

    spark_home = Path(pyspark.__file__).parent
    cp = str(spark_home / "jars" / "*")
    logs = Path(os.environ.get("CLUSTER_SCALE_LOGDIR", "/tmp/cluster_scale"))
    logs.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS="/dev/shm/spark-local",
               SPARK_LOG_DIR=str(logs), SPARK_NO_DAEMONIZE="1",
               # ExecutorRunner builds the executor JVM command through the
               # launcher, which requires a real SPARK_HOME layout
               SPARK_HOME=str(spark_home),
               # pip layout has no launcher/target build dir — tell the
               # launcher the scala version instead of letting it probe
               SPARK_SCALA_VERSION="2.13",
               PYSPARK_PYTHON=sys.executable)
    procs = [subprocess.Popen(
        ["taskset", "-c", aux_cpus, "java", "-cp", cp, "-Xmx1g",
         "org.apache.spark.deploy.master.Master",
         "--host", "127.0.0.1", "--port", str(port), "--webui-port", "0"],
        stdout=open(logs / f"master-{port}.log", "w"),
        stderr=subprocess.STDOUT, env=env)]
    _wait_port(port)
    url = f"spark://127.0.0.1:{port}"
    for i, cpu in enumerate(exec_cpus[:n_workers]):
        procs.append(subprocess.Popen(
            ["taskset", "-c", cpu, "java", "-cp", cp, "-Xmx768m",
             "org.apache.spark.deploy.worker.Worker", url,
             "--cores", "1", "--memory", WORKER_MEM, "--webui-port", "0",
             "--work-dir", str(logs / f"work-{port}-{i}")],
            stdout=open(logs / f"worker-{port}-{i}.log", "w"),
            stderr=subprocess.STDOUT, env=env))
    return url, procs


def run_job(url: str, n_workers: int, input_parquet: str,
            triples: int | None = None) -> tuple[float, int]:
    from knowledge_extraction_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name=f"cluster-scale-{n_workers}w", master=url,
        extra_conf={
            # the same job at every cluster size
            "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
            "spark.executor.cores": "1",
            "spark.executor.memory": EXEC_MEM,
            "spark.cores.max": str(n_workers),
            "spark.executor.extraJavaOptions": EXEC_GC,
            "spark.driver.extraJavaOptions": EXEC_GC,
            # on loopback+tmpfs a remote cached-block read is far cheaper
            # than idling a 1-core executor for the 3 s default locality wait
            "spark.locality.wait": "0s",
            # one split per input file: the default 128m packing would fold
            # the small files into a handful of splits
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "0",
        })
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # exactly n_workers executors: a stale master or worker from a
        # crashed run would silently change the cluster size
        deadline = time.time() + 60
        while True:
            # one entry per live executor plus one for the driver
            n_exec = (spark.sparkContext._jsc.sc()
                      .getExecutorMemoryStatus().size() - 1)
            if n_exec == n_workers:
                break
            if time.time() > deadline or n_exec > n_workers:
                raise RuntimeError(
                    f"expected {n_workers} executors, saw {n_exec}")
            time.sleep(1)
        log(f"  executors: {n_exec}")
        return timed_run(spark, spark.read.parquet(input_parquet), n_workers,
                         triples)
    finally:
        spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("n_workers", type=int)
    ap.add_argument("input_parquet")
    ap.add_argument("--triples", type=int, default=None,
                    help="the input's known triple count (skips the untimed "
                         "recount)")
    ap.add_argument("--exec-cpus", default="0,1,2,3")
    ap.add_argument("--aux-cpus", default="4,5")
    ap.add_argument("--port-base", type=int, default=7077)
    args = ap.parse_args()

    url, procs = launch_cluster(args.n_workers, args.exec_cpus.split(","),
                                args.aux_cpus, args.port_base)
    atexit.register(lambda: [p.terminate() for p in procs])
    time.sleep(3)  # workers register with the master
    wall, triples = run_job(url, args.n_workers, args.input_parquet, args.triples)
    print(f"SCALE {wall} {triples}", flush=True)


if __name__ == "__main__":
    main()
