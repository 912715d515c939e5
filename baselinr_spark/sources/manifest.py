"""Processed-partition manifest — the checkpoint/resume anchor.

Recasts baselinr's incremental state store
(/root/reference/baselinr/incremental/state.py:34-205 and
baselinr_table_state DDL /root/reference/baselinr/storage/schema.sql:69-83)
at partition granularity: one row per (partition, run) with status +
counts; the *latest* row per partition wins (the reference upserts; we
append one parquet file per commit, written on the driver, and resolve
latest by completed_at, which is the Iceberg-friendly append-only
pattern — MERGE INTO when an Iceberg catalog is present).

Resume = the planner (plans/planner.py) reads the latest state per
partition (`latest_rows`, on the driver) and skips the ones already
done, so a run processes only the remainder (north rule: "resumable
from checkpoint with per-partition lineage").
"""

from __future__ import annotations

import os

from . import catalog

MANIFEST_DDL = (
    "run_id string, partition string, status string, doc_count long, "
    "kept_count long, completed_at timestamp, snapshot_id string, "
    "fingerprint string, sample_fraction double"
)


def manifest_path(output_root: str) -> str:
    return os.path.join(output_root, "processed_partitions")


def latest_rows(output_root: str) -> list[dict]:
    """The latest manifest row of each partition (upsert resolution), in
    partition order: greatest `completed_at`, then `run_id`, NULL last.
    Read on the driver with pyarrow under MANIFEST_DDL's Arrow schema: a
    column an older file lacks reads NULL; `completed_at` is a UTC
    datetime."""
    import pyarrow.dataset as ds

    path = manifest_path(output_root)
    if not os.path.isdir(path):
        return []
    rows = ds.dataset(path, schema=catalog.arrow_schema(MANIFEST_DDL),
                      format="parquet").to_table()
    latest = {}
    for r in sorted(rows.to_pylist(), key=lambda r: (
            r["completed_at"] is not None, r["completed_at"] or 0,
            r["run_id"] is not None, r["run_id"] or "")):
        latest[r["partition"]] = r
    return [latest[p] for p in sorted(latest)]


def commit_partitions(output_root: str, run_id: str, rows: list[dict]) -> None:
    """Append manifest rows (one per completed partition) as one parquet
    file, written on the driver. Called only *after* the partition's
    data + metrics writes succeeded, so a crash before this point leaves
    the partition un-manifested → re-done on resume (idempotent thanks to
    partition replacement). Each row names `partition` and
    `completed_at` (a UTC instant); `status` defaults to 'done', and a
    missing field is NULL."""
    if not rows:
        return
    catalog.write_rows(
        manifest_path(output_root),
        [{"status": "done", **r, "run_id": run_id} for r in rows],
        MANIFEST_DDL)
