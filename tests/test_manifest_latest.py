"""Manifest latest state on the driver — no Spark.

`manifest.latest_rows` and the planner's `_stored_state` resolve the
latest row per partition from the manifest files as Spark wrote them:
INT96 `completed_at`, an append-only dir where files written before a
column existed sit beside newer ones. The expected rows below are the
ones a Spark row_number() over (completed_at DESC, run_id DESC), NULLS
LAST, returns for the same files (checked against that window when the
driver-side read replaced it)."""

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from baselinr_spark.plans.planner import _stored_state
from baselinr_spark.sources import manifest

UTC = dt.timezone.utc
T0 = dt.datetime(2025, 6, 10, 12, 0, 0, 123456, tzinfo=UTC)
T1 = T0 + dt.timedelta(hours=1)

#: a file of the manifest's first schema: no fingerprint, no sample_fraction
OLD_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("partition", pa.string()),
    ("status", pa.string()), ("doc_count", pa.int64()),
    ("kept_count", pa.int64()), ("completed_at", pa.timestamp("us", tz=UTC)),
    ("snapshot_id", pa.string()),
])
NEW_SCHEMA = OLD_SCHEMA.append(pa.field("fingerprint", pa.string())).append(
    pa.field("sample_fraction", pa.float64()))


def _row(run_id, part, completed_at, status="done", fp=None, frac=None):
    return {"run_id": run_id, "partition": part, "status": status,
            "doc_count": 10, "kept_count": 6, "completed_at": completed_at,
            "snapshot_id": f"{run_id}:0", "fingerprint": fp,
            "sample_fraction": frac}


OLD_ROWS = [
    _row("r0", "2025-06-04", T0),  # superseded by a newer-schema row
    _row("r0", "2025-06-05", T0),  # only ever in the old file
]
NEW_ROWS = [
    # tie on completed_at: the greater run_id wins
    _row("r1", "2025-06-01", T0, fp="a"),
    _row("r2", "2025-06-01", T0, fp="b"),
    # NULL completed_at loses to any value, whatever its run_id
    _row("r9", "2025-06-02", None, fp="c"),
    _row("r1", "2025-06-02", T0, fp="d"),
    # NULL completed_at only: the greater run_id of those wins
    _row("r1", "2025-06-03", None, fp="e"),
    _row("r3", "2025-06-03", None, fp="f"),
    _row("r5", "2025-06-04", T1, fp="g"),
    # a cost-capped sampled run, latest over a done one
    _row("r1", "2025-06-06", T0, fp="h"),
    _row("r4", "2025-06-06", T1, status="sampled", fp="h", frac=0.25),
    # a NULL run_id loses a completed_at tie
    _row(None, "2025-06-07", T0, fp="i"),
    _row("r1", "2025-06-07", T0, fp="j"),
    # a failed latest run hides the earlier done one from the planner
    _row("r1", "2025-06-08", T0, fp="k"),
    _row("r2", "2025-06-08", T1, status="failed", fp="k"),
]
#: partition -> (run_id, fingerprint) of its latest row
WANT = {
    "2025-06-01": ("r2", "b"), "2025-06-02": ("r1", "d"),
    "2025-06-03": ("r3", "f"), "2025-06-04": ("r5", "g"),
    "2025-06-05": ("r0", None), "2025-06-06": ("r4", "h"),
    "2025-06-07": ("r1", "j"), "2025-06-08": ("r2", "k"),
}


def write_fixture(root: str) -> str:
    """The manifest dir of the rows above as Spark lays it out: INT96
    timestamps, one old-schema file, and a _SUCCESS marker."""
    path = manifest.manifest_path(root)
    os.makedirs(path)
    for name, rows, schema in (("part-00000-old.parquet", OLD_ROWS, OLD_SCHEMA),
                               ("part-00000-a.parquet", NEW_ROWS[:7], NEW_SCHEMA),
                               ("part-00000-b.parquet", NEW_ROWS[7:], NEW_SCHEMA)):
        pq.write_table(
            pa.Table.from_pylist([{k: r[k] for k in schema.names} for r in rows],
                                 schema=schema),
            os.path.join(path, name), use_deprecated_int96_timestamps=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def test_latest_rows_resolution(tmp_path):
    write_fixture(str(tmp_path))
    # the host's local time zone must not shift completed_at
    prior = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        got = manifest.latest_rows(str(tmp_path))
    finally:
        if prior is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = prior
        time.tzset()
    assert [r["partition"] for r in got] == sorted(WANT)
    assert {r["partition"]: (r["run_id"], r["fingerprint"]) for r in got} == WANT
    by = {r["partition"]: r for r in got}
    assert by["2025-06-01"]["completed_at"] == T0  # tz-aware UTC, to the µs
    assert by["2025-06-04"]["completed_at"] == T1
    assert by["2025-06-03"]["completed_at"] is None
    assert by["2025-06-05"]["sample_fraction"] is None  # old-schema file
    assert by["2025-06-06"]["status"] == "sampled"
    assert by["2025-06-06"]["sample_fraction"] == 0.25
    assert set(by["2025-06-01"]) == set(NEW_SCHEMA.names)


def test_stored_state_done_and_sampled(tmp_path):
    write_fixture(str(tmp_path))
    state = _stored_state(str(tmp_path))
    # 2025-06-08's latest row failed: the planner treats it as never run
    assert sorted(state) == sorted(set(WANT) - {"2025-06-08"})
    assert state["2025-06-06"] == ("sampled", "h", T1, 0.25)
    assert state["2025-06-03"] == ("done", "f", None, None)
    assert state["2025-06-05"] == ("done", None, T0, None)


def test_latest_rows_no_manifest(tmp_path):
    assert manifest.latest_rows(str(tmp_path)) == []
    assert _stored_state(str(tmp_path)) == {}
