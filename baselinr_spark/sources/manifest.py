"""Processed-partition manifest — the checkpoint/resume anchor.

Recasts baselinr's incremental state store
(/root/reference/baselinr/incremental/state.py:34-205 and
baselinr_table_state DDL /root/reference/baselinr/storage/schema.sql:69-83)
at partition granularity: one row per (partition, run) with status +
counts; the *latest* row per partition wins (the reference upserts; we
append + resolve latest by completed_at, which is the Iceberg-friendly
append-only pattern — MERGE INTO when an Iceberg catalog is present).

Resume = the planner (plans/planner.py) reads the latest state per
partition and skips the ones already done, so a run processes only the
remainder (north rule: "resumable from checkpoint with per-partition
lineage").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from . import catalog

MANIFEST_DDL = (
    "run_id string, partition string, status string, doc_count long, "
    "kept_count long, completed_at timestamp, snapshot_id string, "
    "fingerprint string, sample_fraction double"
)


def manifest_path(output_root: str) -> str:
    return os.path.join(output_root, "processed_partitions")


def read_manifest(spark: SparkSession, output_root: str) -> DataFrame:
    path = manifest_path(output_root)
    if not os.path.isdir(path):
        # limit(0) lets the optimizer fold any query over this frame to an
        # empty local relation, so a fresh root's plan runs no Spark job
        return spark.createDataFrame([], schema=MANIFEST_DDL).limit(0)
    # mergeSchema: manifests written before a column existed coexist
    # with newer rows in the same append-only dir
    m = spark.read.option("mergeSchema", "true").parquet(path)
    if "fingerprint" not in m.columns:  # pre-fingerprint manifests
        m = m.withColumn("fingerprint", F.lit(None).cast("string"))
    if "sample_fraction" not in m.columns:  # pre-cost-cap manifests
        m = m.withColumn("sample_fraction", F.lit(None).cast("double"))
    return m


def latest_state(manifest: DataFrame) -> DataFrame:
    """Latest row per partition (upsert resolution)."""
    w = W.partitionBy("partition").orderBy(F.desc("completed_at"), F.desc("run_id"))
    return (
        manifest.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def commit_partitions(
    spark: SparkSession,
    output_root: str,
    run_id: str,
    rows: list[dict],
) -> None:
    """Append manifest rows (one per completed partition). Called only
    *after* the partition's data + metrics writes succeeded, so a crash
    before this point leaves the partition un-manifested → re-done on
    resume (idempotent thanks to dynamic partition overwrite). Each row
    names `partition` and `completed_at` (a UTC instant); `status`
    defaults to 'done', and a missing field is NULL."""
    if not rows:
        return
    df = catalog.rows_frame(
        spark, [{"status": "done", **r, "run_id": run_id} for r in rows],
        MANIFEST_DDL)
    df.coalesce(1).write.mode("append").parquet(manifest_path(output_root))
