"""Per-stage checkpoint + lineage + resume (SURVEY.md §4.3; BASELINE.json:6
"resumable without recomputation ... per-partition lineage and metrics").

Design: each pipeline stage may be *checkpointed* to a stage table keyed
by a partition column (e.g. ``day`` from warc_ts). Two bookkeeping tables
live under the pipeline root:

- ``_manifest``  — (stage, partition, run_id) rows; a partition appears
  once its stage output is durably written. Resume = anti-join pending
  partitions against this.
- ``_lineage``   — (stage, rows_out, parse_failures, dropped,
  dropped_overflow, wall_ms, n_partitions, run_id) per stage run; row
  counts come from ``df.observe`` (computed during the write action
  itself — no extra pass).

Commit protocol (the Delta/Iceberg shape): the stage's data write is the
ONLY Spark job of a commit. The driver then writes each bookkeeping
append itself — rows built with pyarrow in memory, one small zstd
parquet file per append, written through the JVM's Hadoop ``FileSystem``
for the root, so every filesystem Spark writes to (``file:``,
``hdfs://``, ``s3a://``) works unchanged. Order: data → ``_manifest`` →
``_lineage``. Each append writes a hidden ``.<name>.tmp`` and then
renames it to ``part-<uuid>-c000.zstd.parquet``; a rename that returns
false fails the commit. Readers list only visible files, so a crash
before the rename leaves a hidden temp file that no read ever sees, and
a bookkeeping directory holding only temp files reads as absent. The
files keep Spark's inferred shape for the old ``createDataFrame(rows)``
appends (sorted column names, int64/string), so roots holding files of
both writers read back as one table.

Crash atomicity (parquet can't give Iceberg's snapshot isolation, so we
approximate it): stage data is written under a ``_run_id=<id>`` partition
and the manifest records (partition, run_id) pairs ONLY after the data
write returns. Readers (:func:`read_stage`, which :func:`run_stage`
returns) keep a row only if its (partition, run_id) pair is manifested —
a crash between the data write and the manifest rename leaves an orphan
run directory that is INVISIBLE to reads and harmless to resume: the
partition is still pending, the re-run writes it under a fresh run_id,
and exactly one copy is ever manifested. No duplicate rows, no lost
rows; orphan dirs can be garbage-collected by run_id at leisure.

Layout rule: a stage's directories are ``_run_id`` followed by the
caller's ``partition_by`` list. ``partition_col`` is the manifest key; it
becomes a directory level only if the caller lists it in
``partition_by`` (the pages pipeline passes ``["day", "route"]``,
curation ``["lang"]``). Streaming sinks keep their ``_batch`` key as a
data column so each micro-batch lands as one file, not one per key.
Daemon roots written before this rule hold ``_batch=`` directories,
which Spark cannot read alongside the new layout (conflicting partition
directories): point such a daemon at a fresh stage name or root.
Production swaps to Iceberg via :data:`beholder_spark.sinks.SINK_FORMAT`
— there the snapshot commit plays the manifest's role natively.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest"
LINEAGE = "_lineage"
RUN_COL = "_run_id"  # data-side partition column scoping each write attempt
# manifest key for rows whose partition column is NULL (they land in the
# writer's default partition); without this, collect_set drops NULLs and
# NULL-partition rows would be re-appended on EVERY resume
NULL_PARTITION = "__NULL__"
# explicit read schema: reading the manifest submits no schema-inference job
MANIFEST_SCHEMA = "partition STRING, run_id STRING, stage STRING"


def _partition_key(partition_col: str) -> F.Column:
    return F.coalesce(F.col(partition_col).cast("string"), F.lit(NULL_PARTITION))


def _fs(spark: SparkSession, path: str):
    """The Hadoop ``FileSystem`` Spark's own writers use for ``path``,
    and the Hadoop ``Path`` constructor."""
    path_cls = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return path_cls(path).getFileSystem(conf), path_cls


def _committed(spark: SparkSession, path: str) -> bool:
    """True once the bookkeeping table at ``path`` holds a visible file;
    a missing directory, or one holding only hidden temp files, is
    absent. An existence check, not an exception-driven read probe."""
    fs, path_cls = _fs(spark, path)
    return bool(fs.globStatus(path_cls(path, "part-*")))


def _append(spark: SparkSession, root: str, table: str, rows: list[dict]) -> None:
    """Commit ``rows`` to ``root/table`` as one parquet file written by
    the driver: no Spark job. Temp file, then rename (module docstring)."""
    names = sorted(rows[0])
    buf = pa.BufferOutputStream()
    pq.write_table(
        pa.table({k: [r[k] for r in rows] for k in names}), buf,
        compression="zstd", store_schema=False, write_statistics=False, use_dictionary=False,
    )
    path = os.path.join(root, table)
    fs, path_cls = _fs(spark, path)
    name = f"part-{uuid.uuid4()}-c000.zstd.parquet"
    tmp, final = path_cls(path, f".{name}.tmp"), path_cls(path, name)
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"bookkeeping commit failed: rename {tmp} -> {final} returned false")


def read_manifest(spark: SparkSession, root: str) -> DataFrame | None:
    path = os.path.join(root, MANIFEST)
    if not _committed(spark, path):  # fresh run
        return None
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def read_lineage(spark: SparkSession, root: str) -> DataFrame | None:
    path = os.path.join(root, LINEAGE)
    if not _committed(spark, path):
        return None
    # mergeSchema: lineage columns may grow across engine versions
    # (e.g. dropped_overflow, added r3) — a root resumed across the
    # upgrade holds files with both shapes; old rows read as NULL
    return spark.read.option("mergeSchema", "true").parquet(path)


def done_partitions(spark: SparkSession, root: str, stage: str) -> set[str] | None:
    """Partition values already durably written for `stage`, as strings —
    None on a fresh run. Driver-side and tiny (the manifest is rows of
    (stage, partition), not data).

    Scale note (VERDICT r3): this collect is sized for coarse partitions
    (day-grained → O(10^3) strings). A finer-grained stage key (e.g.
    bucket×day at 100 TB → O(10^6)+) should NOT route through this
    helper — use :func:`pending_partitions`, whose anti-join keeps the
    manifest distributed (broadcast of bookkeeping strings, no
    driver-side set rebuild per run). Nothing in the engine's own
    pipelines calls this on fine-grained stages; it exists for
    operator-level introspection and tests."""
    manifest = read_manifest(spark, root)
    if manifest is None:
        return None
    rows = manifest.filter(F.col("stage") == stage).select("partition").distinct().collect()
    return {r.partition for r in rows}


def pending_partitions(spark: SparkSession, root: str, stage: str, df: DataFrame, partition_col: str) -> DataFrame:
    """Resume filter: drop rows whose (stage, partition) is already in the
    manifest. Broadcast anti-join — the manifest is tiny by construction.
    """
    manifest = read_manifest(spark, root)
    if manifest is None:
        return df
    done = manifest.filter(F.col("stage") == stage).select(
        F.col("partition").alias("_done_part")
    ).distinct()
    out = df.withColumn("_part_key", _partition_key(partition_col))
    out = out.join(
        F.broadcast(done),
        on=out["_part_key"] == done["_done_part"],
        how="left_anti",
    )
    return out.drop("_part_key")


def read_stage(spark: SparkSession, root: str, stage: str, partition_col: str) -> DataFrame:
    """The manifested view of a stage table: rows whose (partition,
    run_id) pair the manifest records. Orphan run dirs (data written, then
    a crash before the manifest append) are filtered out — they were never
    committed, and their partitions re-run under a new run_id on resume.
    The manifest is tiny (rows of bookkeeping strings) → broadcast
    semi-join; partition pruning on the scan is unaffected."""
    df = spark.read.parquet(os.path.join(root, stage))
    manifest = read_manifest(spark, root)
    if manifest is None:  # data exists but nothing manifested → all orphan
        return df.filter(F.lit(False)).drop(RUN_COL)
    done = (
        manifest.filter(F.col("stage") == stage)
        .select(F.col("partition").alias("_m_part"), F.col("run_id").alias("_m_run"))
        .distinct()
    )
    out = df.join(
        F.broadcast(done),
        on=(
            (_partition_key(partition_col) == F.col("_m_part"))
            & (F.col(RUN_COL) == F.col("_m_run"))
        ),
        how="left_semi",
    )
    return out.drop(RUN_COL)


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    df: DataFrame,
    partition_col: str,
    extra_metrics: dict[str, F.Column] | None = None,
    partition_by: list[str] | None = None,
    extra_lineage: dict[str, int] | None = None,
    read_back: bool = True,
) -> DataFrame | None:
    """Execute one checkpointed stage: write pending partitions under a
    run_id-scoped directory, record manifest + lineage, return the
    manifested stage table (for the next stage), or None when
    ``read_back`` is False (sinks that never read their output back).

    Directories are ``_run_id`` + ``partition_by``; ``partition_col`` is
    the manifest key and a directory only if ``partition_by`` lists it.

    ``df.observe`` attaches counters to the write action itself — metrics
    cost zero extra passes over the data. ``extra_metrics`` adds stage-
    specific aggregates (e.g. parse_failures = count_if(NOT parse_ok)).
    Write-then-manifest ordering + run_id scoping makes the stage
    crash-safe: a failure anywhere before the manifest append leaves only
    an invisible orphan dir (see module docstring).
    """
    # letter prefix so Hive partition-column TYPE INFERENCE can never fire:
    # an all-digit hex id (or digits+'e' scientific shape) would be read
    # back as a number and normalized (leading zeros dropped), breaking the
    # manifest's string equality and silently hiding committed rows
    run_id = "r" + uuid.uuid4().hex[:12]
    out_path = os.path.join(root, stage)
    pending = pending_partitions(spark, root, stage, df, partition_col)

    metrics: dict[str, F.Column] = {"rows_out": F.count(F.lit(1))}
    metrics.update(extra_metrics or {})
    obs = Observation(f"lineage_{stage}_{run_id}")
    observed = pending.observe(
        obs,
        *[c.alias(k) for k, c in metrics.items()],
        # partition values captured during the SAME action — no extra pass;
        # NULL partitions tracked under the sentinel key
        F.collect_set(_partition_key(partition_col)).alias("_parts"),
    )

    t0 = time.monotonic()
    w = (
        observed.withColumn(RUN_COL, F.lit(run_id))
        .write.mode("append")
        .partitionBy(RUN_COL, *(partition_by or []))
    )
    w.parquet(out_path)
    wall_ms = int((time.monotonic() - t0) * 1000)

    got = obs.get
    parts = list(got.get("_parts") or [])
    if parts:
        _append(
            spark, root, MANIFEST,
            [{"stage": stage, "partition": str(p), "run_id": run_id} for p in parts],
        )
    # driver-side scalars computed OUTSIDE this stage's plan (e.g. the
    # sender-buffer overflow count — K5: rows dropped before the write,
    # invisible to observe). Always materialized (0 default) so new
    # lineage files keep one schema; read_lineage merges older shapes.
    # A REPLAYED batch (all rows already manifested → nothing newly
    # committed) suppresses the count: its drops were recorded by the
    # original attempt, and re-recording would double-count on sum.
    overflow = int((extra_lineage or {}).get("dropped_overflow", 0)) if parts else 0
    _append(
        spark, root, LINEAGE,
        [{
            "stage": stage,
            "run_id": run_id,
            "rows_out": int(got.get("rows_out", 0) or 0),
            "parse_failures": int(got.get("parse_failures", 0) or 0),
            "dropped": int(got.get("dropped", 0) or 0),
            "dropped_overflow": overflow,
            "wall_ms": wall_ms,
            "n_partitions": len(parts),
        }],
    )
    if not read_back:
        return None
    try:
        return read_stage(spark, root, stage, partition_col)
    except Exception:  # nothing ever written (empty input) — pass through
        return pending
