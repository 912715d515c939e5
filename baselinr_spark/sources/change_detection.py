"""Input change detection: skip partitions whose input is unchanged.

Recasts /root/reference/baselinr/incremental/change_detection.py:21-200.
The reference fingerprints a table from warehouse metadata (row count,
byte size, last-altered timestamp — one cheap metadata query per
dialect) and skips re-profiling when the fingerprint is unchanged. The
parquet-warehouse analog of "warehouse metadata" is the file listing:
fingerprint = hash of every file's (relative path, size, mtime) under
the partition directory. Driver-side stat calls — O(files), never a
data scan — mirroring the reference's metadata-only contract.

The pipeline stores each partition's fingerprint in the manifest at
commit time, and the planner (plans/planner.py) compares it with the
current one: a match is ``snapshot_match``, a mismatch is
``change_detected``. By default a done partition stays done even if an
upstream backfill rewrites its input; with ``reprocess_changed=True``
exactly the partitions whose fingerprint changed re-run (idempotent:
sources/catalog.py replaces their output dirs whole).
"""

from __future__ import annotations

import hashlib
import os


def partition_fingerprint(input_path: str, partition: str) -> str:
    """Metadata fingerprint of one dt partition's input files."""
    d = os.path.join(input_path, f"dt={partition}")
    entries = []
    if os.path.isdir(d):
        for root, _, files in os.walk(d):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue  # commit markers / CRCs are not data
                full = os.path.join(root, f)
                try:
                    st = os.stat(full)
                except OSError:
                    continue
                entries.append(
                    (os.path.relpath(full, d), st.st_size, st.st_mtime_ns)
                )
    h = hashlib.md5()
    for rel, size, mtime in sorted(entries):
        h.update(f"{rel}|{size}|{mtime}\n".encode())
    return h.hexdigest()
