"""Schema-change events pick the most recent previous snapshot by UTC
time, whatever the host's local zone (tz-aware snapshots written by
older Spark runs are normalized to naive UTC, never to local time).
A missing snapshot dir yields no events; a corrupt snapshot raises."""

import datetime as dt
import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from baselinr_spark.plans.events import schema_change_events

UTC = dt.timezone.utc


def _snapshot(schema_dir, run_id, cols, ts):
    names, types = zip(*cols)
    pq.write_table(pa.table({
        "run_id": pa.array([run_id] * len(cols), pa.string()),
        "column_name": pa.array(names, pa.string()),
        "data_type": pa.array(types, pa.string()),
        "ts": pa.array([ts] * len(cols), pa.timestamp("us", tz="UTC")),
    }), os.path.join(schema_dir, f"part-{run_id}.parquet"))


@pytest.fixture()
def new_york_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_baseline_is_latest_utc_across_dst_fall_back(tmp_path, new_york_tz):
    # 2026-11-01 06:00Z is the US fall-back: r1 at 05:30Z is 01:30 EDT,
    # r2 at 06:10Z is 01:10 EST — later in UTC, earlier in local wall time
    schema_dir = str(tmp_path / "schema")
    os.makedirs(schema_dir)
    _snapshot(schema_dir, "r1", [("x", "string")],
              dt.datetime(2026, 11, 1, 5, 30, tzinfo=UTC))
    _snapshot(schema_dir, "r2", [("x", "string"), ("y", "int")],
              dt.datetime(2026, 11, 1, 6, 10, tzinfo=UTC))
    _snapshot(schema_dir, "r3", [("x", "string"), ("y", "string")],
              dt.datetime(2026, 11, 1, 7, 0, tzinfo=UTC))
    rows = schema_change_events(schema_dir, "r3")
    assert len(rows) == 1
    meta = json.loads(rows[0]["metadata_json"])
    assert rows[0]["metric_name"] == "y"
    assert meta["baseline_run_id"] == "r2"
    assert meta["change_type"] == "type_changed"


def test_missing_schema_dir_yields_no_events(tmp_path):
    rows = schema_change_events(str(tmp_path / "absent"), "r1")
    assert rows == []


def test_corrupt_snapshot_raises(tmp_path):
    schema_dir = str(tmp_path / "schema")
    os.makedirs(schema_dir)
    _snapshot(schema_dir, "r1", [("x", "string")],
              dt.datetime(2026, 11, 1, 5, 30, tzinfo=UTC))
    with open(os.path.join(schema_dir, "part-r2.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        schema_change_events(schema_dir, "r2")
