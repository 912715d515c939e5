"""Input change detection: skip partitions whose input is unchanged.

Recasts the reference's incremental/change_detection.py:21-200. The
reference fingerprints a table from warehouse metadata (row count,
byte size, last-altered timestamp — one cheap metadata query per
dialect) and skips re-profiling when the fingerprint is unchanged. The
parquet-warehouse analog of "warehouse metadata" is the file listing:
fingerprint = hash of every data file's (relative path, size, mtime)
under the partition directory, as `catalog.list_data_files` lists them
(driver-side stat calls — O(files), never a data scan — mirroring the
reference's metadata-only contract).

The planner (plans/planner.py) fingerprints each input partition from
the same listing it takes its cost estimates from, once per run; the
pipeline stores each processed partition's fingerprint from its plan
row in the manifest at commit time, and the next plan compares it with
the current one: a match is ``snapshot_match``, a mismatch is
``change_detected``. By default a done partition stays done even if an
upstream backfill rewrites its input; with ``reprocess_changed=True``
exactly the partitions whose fingerprint changed re-run (idempotent:
sources/catalog.py replaces their output dirs whole).
"""

from __future__ import annotations

import hashlib


def partition_fingerprint(files) -> str:
    """md5 of the listed data files (`catalog.DataFile`) of one
    partition: one `rel|size|mtime_ns` line per file, in sorted order.
    Every manifest on disk stores this format, so it must not change."""
    h = hashlib.md5()
    for rel, size, mtime in sorted((f.rel, f.size, f.mtime_ns) for f in files):
        h.update(f"{rel}|{size}|{mtime}\n".encode())
    return h.hexdigest()
