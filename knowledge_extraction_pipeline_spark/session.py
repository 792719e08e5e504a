"""SparkSession factory tuned for this engine.

Scale posture: AQE on (runtime re-plan + skew-join splitting), Arrow on
(every UDF in this engine is Arrow-batched), shuffle partitions sized to the
parallelism at hand, a generated-class cache that holds a whole pipeline's
classes.  On a real cluster these settings come from
spark-submit --conf; this factory is the local/test entry point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "knowledge-extraction-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        # one task slot per CPU this process may run on
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    # local[N] → N concurrent tasks; match shuffle width to it locally.
    if shuffle_partitions is None:
        if master.startswith("local["):
            n = master[len("local["):-1]
            shuffle_partitions = (len(os.sched_getaffinity(0)) if n == "*"
                                  else int(n))
        else:
            shuffle_partitions = 200

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep post-shuffle parallelism ≥ core count: the 64MB default
        # advisory size coalesces mid-size shuffles down to a handful of
        # partitions, flattening scaling on wide stages
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # generated-class cache, per JVM: one run_pipeline compiles ~300
        # distinct whole-stage-codegen classes. At Spark's default of 100
        # entries every repeat of a plan in the session (append, streaming
        # micro-batches, API calls, tests) evicts the previous run's classes
        # and pays a Janino recompile plus a fresh JIT warm-up for each
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # shuffle/spill on tmpfs — OPT-IN (SPARK_GRAFT_TMPFS=1, set by bench.py /
    # cluster_scale.py): local mode funnels every task's shuffle file through
    # one block device, which serializes multi-core bench runs. It is not the
    # library default because tmpfs is RAM-backed and often tiny (64 MB in a
    # default Docker container) — spill data moving INTO memory defeats its
    # purpose and ENOSPCs mid-job; a free-space check guards even the opt-in.
    if (os.environ.get("SPARK_GRAFT_TMPFS") == "1"
            and os.path.isdir("/dev/shm")
            and "spark.local.dir" not in (extra_conf or {})):
        import shutil as _sh
        if _sh.disk_usage("/dev/shm").free >= 4 << 30:
            b = b.config("spark.local.dir", "/dev/shm/spark-local")
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
