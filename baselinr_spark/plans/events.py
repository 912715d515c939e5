"""Pipeline event taxonomy (SURVEY.md §2; reference
/root/reference/baselinr/events/events.py:31-349).

The reference emits typed event dataclasses (DataDriftDetected,
ValidationFailed, SchemaChangeDetected, AnomalyDetected, …) through an
in-process event bus. Here every event type is a row in ONE unified
events table (EVENTS_DDL), appended like any other partitioned sink:

    (event_id, event_type, partition, metric_name, baseline_value,
     current_value, score, severity, ts, metadata_json)

event_type values mirror the reference classes:
  distribution_drift  ← DataDriftDetected      (plans/pipeline.drift_events)
  validation_failed   ← ValidationFailed       (events.py:285-318)
  schema_change       ← SchemaChangeDetected   (events.py:62-95)
  anomaly_detected    ← AnomalyDetected        (events.py:252-283)

Events are functions of per-partition metric states, never of the
documents: each builder below is plain Python over rows the driver
already holds (the stored metric rows, or the schema snapshots) and
returns one dict per event, every column but `ts`, which the caller
stamps once per chunk.
"""

from __future__ import annotations

import hashlib
import json
import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame

from ..sources import catalog

#: schema of the events table
EVENTS_DDL = (
    "event_id string, event_type string, partition string, metric_name string,"
    " baseline_value double, current_value double, score double,"
    " severity string, ts timestamp, metadata_json string"
)

#: validation_failed severity: low above 0, medium from FIRE_WARN, high
#: from FIRE_HIGH (rule fire rate)
FIRE_WARN = 0.2
FIRE_HIGH = 0.5

#: anomaly_detected: a count more than SIGMA leave-one-out standard
#: deviations from the other partitions' mean; high beyond 2·SIGMA
SIGMA = 3.0


def _event(run_id, event_type, partition, metric_name, baseline, current,
           score, severity, meta, key=None) -> dict:
    """One event row without `ts`. event_id is deterministic per (run,
    type, partition, metric) so idempotent reruns overwrite rather than
    duplicate; `key` replaces that hashed key where an event type keeps
    an older id. metadata_json is compact JSON, one format for every
    event type."""
    if key is None:
        key = f"{run_id}|{event_type}|{partition}|{metric_name}"
    return {
        "event_id": "evt-" + hashlib.md5(key.encode()).hexdigest(),
        "event_type": event_type,
        "partition": partition,
        "metric_name": metric_name,
        "baseline_value": baseline,
        "current_value": current,
        "score": score,
        "severity": severity,
        "metadata_json": (None if meta is None
                          else json.dumps(meta, separators=(",", ":"))),
    }


def _round_half_up(x: float) -> float:
    """Spark's round(x) on a double: HALF_UP on its decimal string, not
    Python's round-half-even."""
    return float(Decimal(repr(x)).to_integral_value(ROUND_HALF_UP))


def validation_events(rows: list[dict], run_id: str) -> list[dict]:
    """ValidationFailed analogue (reference events.py:285-318): one event
    per (partition, rule) whose fire rate exceeds 0 — severity low, then
    medium ≥ FIRE_WARN, high ≥ FIRE_HIGH. `rows` are long metric rows
    (partition, metric_name, metric_value) as partition_metrics writes
    them; a partition needs its `count` row."""
    totals = {r["partition"]: r["metric_value"] for r in rows
              if r["metric_name"] == "count"}
    out = []
    for r in rows:
        name, part, rate = r["metric_name"], r["partition"], r["metric_value"]
        if (not name.startswith("rule_fire_rate:") or part not in totals
                or rate is None or not rate > 0):
            continue
        total = totals[part]
        sev = ("high" if rate >= FIRE_HIGH
               else "medium" if rate >= FIRE_WARN else "low")
        out.append(_event(
            run_id, "validation_failed", part, name, 0.0, rate, rate, sev,
            {"rule_type": name.split(":")[1], "total_rows": total,
             "total_failures": _round_half_up(rate * total),
             "failure_rate": rate * 100.0},
        ))
    return out


def write_schema_snapshot(df: DataFrame, schema_dir: str, run_id: str) -> None:
    """Record the docs schema for this run (append; latest run wins on
    read). The snapshot is O(columns) METADATA — one file written
    driver-side (catalog.write_rows) instead of launching a Spark job
    for a handful of rows (guide §1.2: fixed per-job scheduling cost
    dwarfs metadata-scale work)."""
    import datetime as _dt

    now = _dt.datetime.now(_dt.timezone.utc)
    catalog.write_rows(schema_dir, [
        {"run_id": run_id, "column_name": f.name,
         "data_type": f.dataType.simpleString(), "ts": now}
        for f in df.schema.fields
    ], "run_id string, column_name string, data_type string, ts timestamp")


def _normalize_type_py(t: str) -> str:
    from ..operators.schema_drift import _TYPE_SYNONYMS

    t = t.lower()
    return _TYPE_SYNONYMS.get(t, t)


def _naive_utc(ts):
    """Snapshot timestamp as naive UTC, the form pyarrow reads an INT96
    timestamp in; tz-aware ones (older snapshot files) are converted to
    UTC, never to the host's local zone, so both kinds compare."""
    if ts.tzinfo is None:
        return ts
    import datetime as _dt

    return ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)


def schema_change_events(schema_dir: str, run_id: str) -> list[dict]:
    """SchemaChangeDetected analogue (reference events.py:62-95): diff
    this run's schema snapshot against the most recent previous run's.
    change_type ∈ column_added / column_removed / type_changed, severity
    medium / high / high (type changes break downstream readers).

    Snapshots are O(runs × columns) metadata, so the read and the diff
    run driver-side (pyarrow + dict compare — the same normalize/full-
    outer semantics as operators/schema_drift.schema_diff) instead of a
    collect + full-outer-join Spark plan, which cost ~2s of fixed
    scheduling per run at any scale.

    No snapshot directory yet means no events; any read error on an
    existing one (a corrupt or unreadable snapshot file) raises."""
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(schema_dir):
        return []
    rows = pq.read_table(
        schema_dir, columns=["run_id", "column_name", "data_type", "ts"]
    ).to_pylist()

    latest: dict[str, object] = {}
    for r in rows:
        if r["run_id"] == run_id or r["ts"] is None:
            continue
        ts = _naive_utc(r["ts"])
        if r["run_id"] not in latest or ts > latest[r["run_id"]]:
            latest[r["run_id"]] = ts
    if not latest:
        return []
    prev_id = max(latest.items(), key=lambda kv: (kv[1], kv[0]))[0]

    cur = {r["column_name"]: _normalize_type_py(r["data_type"])
           for r in rows if r["run_id"] == run_id}
    base = {r["column_name"]: _normalize_type_py(r["data_type"])
            for r in rows if r["run_id"] == prev_id}
    out = []
    for col in sorted(set(cur) | set(base)):
        in_c, in_b = col in cur, col in base
        if in_c and in_b and cur[col] == base[col]:
            continue
        if in_c and not in_b:
            change, sev, old_t, new_t = "column_added", "medium", None, cur[col]
        elif in_b and not in_c:
            change, sev, old_t, new_t = "column_removed", "high", base[col], None
        else:
            change, sev, old_t, new_t = "type_changed", "high", base[col], cur[col]
        meta = {"change_type": change}
        if old_t is not None:
            meta["old_type"] = old_t
        if new_t is not None:
            meta["new_type"] = new_t
        meta["baseline_run_id"] = prev_id
        out.append(_event(run_id, "schema_change", "__schema__", col,
                          None, None, None, sev, meta))
    return out


def anomaly_events(rows: list[dict], run_id: str) -> list[dict]:
    """AnomalyDetected analogue (reference events.py:252-283) via
    control limits (detection_methods control_limits): a partition whose
    doc count falls outside mean ± SIGMA·sd of the OTHER partitions'
    counts is anomalous. Leave-one-out matters: the reference learns
    limits from history and compares the current value against them —
    including the tested point in the stats caps the max possible z at
    (k−1)/√k, so a single extreme partition among ten could never reach
    3σ. Needs k ≥ 4 partitions; `rows` are every stored partition's
    long metric rows, of which the `count` rows are read, and the
    leave-one-out mean and variance come from one sum and sum of
    squares."""
    counts: dict[str, float] = {}
    for r in rows:
        if r["metric_name"] == "count" and r["metric_value"] is not None:
            p = r["partition"]
            counts[p] = max(counts.get(p, r["metric_value"]), r["metric_value"])
    k = len(counts)
    if k < 4:
        return []
    s = sum(counts.values())
    ss = sum(n * n for n in counts.values())
    out = []
    for p, n in sorted(counts.items()):
        mu = (s - n) / (k - 1)
        var = ((ss - n * n) - (k - 1) * mu * mu) / (k - 2)
        sd = math.sqrt(max(var, 0.0))
        if not sd > 0:
            continue
        z = abs(n - mu) / sd
        if z > SIGMA:
            out.append(_event(
                run_id, "anomaly_detected", p, "count", mu, n, z,
                "high" if z > 2 * SIGMA else "medium",
                {"detection_method": "control_limits",
                 "anomaly_type": "rowcount", "expected_value": mu,
                 "actual_value": n},
            ))
    return out
