"""Checkpoint table layer: Iceberg when the runtime is present, else
Parquet + per-run JSON manifest.

The sandbox ships no Iceberg runtime jar, so the default is parquet with
Iceberg-snapshot-like semantics: each stage write is atomic-enough (write to
parquet, then record the stage in the manifest; a stage is only considered
committed if the manifest says so), resumable (skip-if-committed — the Spark
analog of the reference's skip-if-processed resume,
scripts/batch_process.py:357-360, and stage-file caching,
mcp/graph_tools.py:503-529).

A checkpoint costs one Spark job: the table write. Its row counts are read
from the written files' metadata, and its per-partition metrics rows are
written by the driver as one file per (stage, table) under
`<run_dir>/metrics/`, replaced whole when a crashed write is retried. The
manifest records each table's schema, so reading a checkpoint back on resume
runs no job.

When the Iceberg classes ARE on the classpath AND a `kg_ckpt` Spark catalog
is configured (spark.sql.catalog.kg_ckpt=org.apache.iceberg.spark.SparkCatalog
plus type/warehouse — the standard hadoop-catalog setup), checkpoint tables
are written with `writeTo(...).using("iceberg")` instead, gaining real
snapshot isolation and time travel; the JSON manifest is still written either
way, because resume decisions key off the manifest, not the storage format.
The writer/reader is isolated here so the backend choice is invisible to
every stage (SURVEY.md §7 risk note).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_ICEBERG_CACHE: dict[str, bool] = {}


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath AND the
    `kg_ckpt` catalog is configured. Probed once per JVM."""
    if "ok" not in _ICEBERG_CACHE:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog")
            has_jar = True
        except Exception:
            has_jar = False
        _ICEBERG_CACHE["ok"] = has_jar
    if not _ICEBERG_CACHE["ok"]:
        return False
    try:
        return spark.conf.get("spark.sql.catalog.kg_ckpt", None) is not None
    except Exception:
        return False


def _ckpt_table_ident(run_dir: str, stage: str, table: str) -> str:
    import re
    run_id = re.sub(r"[^A-Za-z0-9_]", "_", Path(run_dir).name)
    return f"kg_ckpt.{run_id}.{stage}_{table}"


def _manifest_path(run_dir: str) -> Path:
    return Path(run_dir) / MANIFEST


def read_manifest(run_dir: str) -> dict:
    p = _manifest_path(run_dir)
    if p.exists():
        return json.loads(p.read_text())
    return {"run_id": Path(run_dir).name, "stages": {}}


def _write_manifest(run_dir: str, manifest: dict) -> None:
    p = _manifest_path(run_dir)
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(manifest, indent=2))
    tmp.replace(p)  # atomic on POSIX


def stage_committed(run_dir: str, stage: str, table: str) -> bool:
    m = read_manifest(run_dir)
    return table in m["stages"].get(stage, {}).get("tables", {})


def _parquet_part_rows(path: str) -> dict[int, int]:
    """Rows per writing task of a just-written Parquet table, read from the
    footers of its `part-<task partition>-<uuid>...` files on the driver —
    no Spark job."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for f in Path(path).glob("part-*"):
        pid = int(f.name.split("-")[1])
        rows[pid] = rows.get(pid, 0) + pq.read_metadata(f).num_rows
    return rows


def _iceberg_part_rows(spark: SparkSession, ident: str) -> dict[int, int]:
    """Rows per writing task of an Iceberg table, from its `files` metadata
    table (data files are named `<task partition>-<task id>-...`). No test
    runs this: the test and benchmark hosts have no Iceberg runtime."""
    rows: dict[int, int] = {}
    for r in spark.read.table(f"{ident}.files") \
            .select("file_path", "record_count").collect():
        pid = int(Path(r["file_path"]).name.split("-")[0])
        rows[pid] = rows.get(pid, 0) + r["record_count"]
    return rows


def _write_metrics(run_dir: str, stage: str, table: str,
                   part_rows: dict[int, int], wall_ms: int) -> None:
    """The (stage, table)'s metrics rows, one per writing task, as ONE file
    `metrics/<stage>-<table>.parquet` written by the driver. It goes to a
    hidden temp name first (Spark's reader skips names starting with '.'),
    then is renamed over the final name, so a retried write replaces the
    rows of the attempt it retries instead of adding to them."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    pids = sorted(part_rows)
    n = len(pids)
    ts = datetime.datetime.now(datetime.timezone.utc)
    rows = pa.table({
        "run_id": pa.array([Path(run_dir).name] * n, pa.string()),
        "stage": pa.array([stage] * n, pa.string()),
        "table": pa.array([table] * n, pa.string()),
        "partition_id": pa.array(pids, pa.int32()),
        "rows_out": pa.array([part_rows[p] for p in pids], pa.int64()),
        "wall_ms": pa.array([wall_ms] * n, pa.int64()),
        "ts": pa.array([ts] * n, pa.timestamp("us", tz="UTC")),
    })
    out = Path(run_dir) / "metrics"
    out.mkdir(parents=True, exist_ok=True)
    final = out / f"{stage}-{table}.parquet"
    tmp = out / f".{final.name}.tmp"
    pq.write_table(rows, tmp)
    tmp.replace(final)  # atomic on POSIX


def checkpoint_write(df: DataFrame, run_dir: str, stage: str,
                     table: str) -> DataFrame:
    """Write a stage output table (for Parquet, the only Spark job here),
    record it in the manifest with its row count and write wall time, write
    its per-partition metrics rows, and return the re-read DataFrame
    (truncated lineage — downstream stages read the checkpoint, never
    recompute upstream plans).

    Row counts come from the written files' own metadata (Parquet footers,
    or Iceberg's `files` table), so nothing is re-scanned; `partition_id`
    in the metrics rows is the partition of the task that wrote the rows."""
    spark = df.sparkSession
    path = f"{run_dir}/{stage}/{table}"
    t0 = time.time()
    use_iceberg = iceberg_available(spark)
    if use_iceberg:
        ident = _ckpt_table_ident(run_dir, stage, table)
        df.writeTo(ident).using("iceberg").createOrReplace()
    else:
        df.write.mode("overwrite").parquet(path)
    wall_ms = int((time.time() - t0) * 1000)

    if use_iceberg:
        part_rows = _iceberg_part_rows(spark, ident)
        out = spark.read.table(ident)
    else:
        part_rows = _parquet_part_rows(path)
        # the schema is known: passing it skips the schema-inference job
        out = spark.read.schema(df.schema).parquet(path)
    # per-partition lineage/metrics rows (north rule; reference analog:
    # core/monitoring.py PhaseMetrics)
    _write_metrics(run_dir, stage, table, part_rows, wall_ms)

    manifest = read_manifest(run_dir)
    st = manifest["stages"].setdefault(stage, {"tables": {}})
    st["tables"][table] = {
        "path": ident if use_iceberg else path,
        "format": "iceberg" if use_iceberg else "parquet",
        "rows": sum(part_rows.values()),
        "schema": df.schema.jsonValue(),
        "wall_ms": wall_ms,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    _write_manifest(run_dir, manifest)
    return out


def checkpoint_read(spark: SparkSession, run_dir: str, stage: str, table: str) -> DataFrame:
    # the manifest records which backend WROTE the table — honor it, so a
    # resume still works when the Iceberg runtime's availability changed
    # between the write and the restart (e.g. parquet checkpoints resumed
    # from a session that now has the kg_ckpt catalog, or vice versa)
    m = read_manifest(run_dir)
    entry = m["stages"].get(stage, {}).get("tables", {}).get(table, {})
    fmt = entry.get("format")
    if fmt is None:
        fmt = "iceberg" if iceberg_available(spark) else "parquet"
    if fmt == "iceberg":
        return spark.read.table(_ckpt_table_ident(run_dir, stage, table))
    reader = spark.read
    # a recorded schema skips the schema-inference job; manifests written
    # before tables carried one fall back to inference
    if "schema" in entry:
        reader = reader.schema(StructType.fromJson(entry["schema"]))
    return reader.parquet(f"{run_dir}/{stage}/{table}")


def read_metrics(spark: SparkSession, run_dir: str) -> DataFrame:
    return spark.read.parquet(f"{run_dir}/metrics")


def checkpoint_gc(base_dir: str, keep_last: int = 3) -> list[str]:
    """Retention cleanup for checkpoint runs: under `base_dir`, keep the
    `keep_last` most recently committed run directories (ordered by the
    max committed_at across their manifest tables; ISO-8601 strings sort
    chronologically) and delete the rest. Only directories carrying a
    manifest are candidates — anything else under base_dir is not ours and
    is never touched. Returns the deleted run paths."""
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    base = Path(base_dir)
    if not base.is_dir():
        return []
    runs: list[tuple[str, Path]] = []
    for child in sorted(base.iterdir()):
        if not child.is_dir() or not (child / MANIFEST).exists():
            continue
        m = json.loads((child / MANIFEST).read_text())
        stamps = [t.get("committed_at", "")
                  for st in m.get("stages", {}).values()
                  for t in st.get("tables", {}).values()]
        runs.append((max(stamps) if stamps else "", child))
    runs.sort(key=lambda t: (t[0], t[1].name), reverse=True)
    deleted = []
    for _, path in runs[keep_last:]:
        shutil.rmtree(path)
        deleted.append(str(path))
    return deleted
