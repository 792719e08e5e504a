"""SparkSession factory tuned for this engine.

Scale posture: AQE on (runtime re-plan + skew-join splitting), Arrow on
(every UDF in this engine is Arrow-batched), shuffle partitions sized to the
parallelism at hand, a generated-class cache that holds a whole pipeline's
classes.  On a real cluster these settings come from
spark-submit --conf; this factory is the local/test entry point.

`sql` runs one SQL statement over DataFrame parameters; the stage operators
build their tables with it.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "knowledge-extraction-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        # one task slot per CPU this process may run on
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    # local[N] → N concurrent tasks; match shuffle width to it locally.
    # Another width, or another master's, comes in extra_conf.
    shuffle_partitions = 200
    if master.startswith("local["):
        n = master[len("local["):-1]
        shuffle_partitions = len(os.sched_getaffinity(0)) if n == "*" else int(n)

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
        # ... and keyed by source only: with the codegen stage id in the
        # class name, adaptive execution numbering the same stage
        # differently from one run to the next made identical code miss
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()


def sql(text: str, **params) -> DataFrame:
    """One SQL statement over DataFrame parameters: each DataFrame in
    `params` is bound to its `{name}` in `text` through a temporary view,
    every other value is formatted in as is (str.format: other braces in
    `text` are doubled). The JVM parses and analyzes the whole statement in
    one call.

    Unlike `spark.sql(text, **dfs)` this keeps the parameters' caches:
    PySpark removes its views with Catalog.dropTempView, which also
    uncaches a persisted DataFrame passed as a parameter, so here the views
    are removed from the session catalog directly."""
    dfs = {k: v for k, v in params.items() if isinstance(v, DataFrame)}
    spark = next(iter(dfs.values())).sparkSession
    views = {k: f"_sql_{k}_{uuid.uuid4().hex}" for k in dfs}
    try:
        for k, df in dfs.items():
            df._jdf.createOrReplaceTempView(views[k])
        return DataFrame(spark._jsparkSession.sql(text.format(**{**params, **views})), spark)
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for view in views.values():
            catalog.dropTempView(view)
