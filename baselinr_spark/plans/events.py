"""Pipeline event taxonomy (SURVEY.md §2; reference
/root/reference/baselinr/events/events.py:31-349).

The reference emits typed event dataclasses (DataDriftDetected,
ValidationFailed, SchemaChangeDetected, AnomalyDetected, …) through an
in-process event bus. Here every event type is a row in ONE unified
events table so a 1000-executor run appends events exactly like any
other partitioned sink:

    (event_id, event_type, partition, metric_name, baseline_value,
     current_value, score, severity, ts, metadata_json)

event_type values mirror the reference classes:
  distribution_drift  ← DataDriftDetected      (plans/pipeline.drift_events)
  validation_failed   ← ValidationFailed       (events.py:285-318)
  schema_change       ← SchemaChangeDetected   (events.py:62-95)
  anomaly_detected    ← AnomalyDetected        (events.py:252-283)

All builders below read the already-written metrics/schema rows — no
extra scan of the documents table, so event emission costs O(partitions),
not O(docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _finish(df: DataFrame, run_id: str, event_type: str) -> DataFrame:
    """Stamp the shared event columns; event_id is deterministic per
    (run, type, partition, metric) so idempotent reruns overwrite rather
    than duplicate."""
    return df.select(
        F.concat(
            F.lit("evt-"),
            F.md5(F.concat_ws(
                "|", F.lit(run_id), F.lit(event_type),
                F.col("partition"), F.col("metric_name"),
            )),
        ).alias("event_id"),
        F.lit(event_type).alias("event_type"),
        "partition", "metric_name", "baseline_value", "current_value",
        "score", "severity",
        F.current_timestamp().alias("ts"),
        "metadata_json",
    )


def validation_events(
    mrows: DataFrame,
    run_id: str,
    fire_warn: float = 0.2,
    fire_high: float = 0.5,
) -> DataFrame:
    """ValidationFailed analogue (reference events.py:285-318): one event
    per (partition, rule) whose fire rate exceeds 0 — severity low, then
    medium ≥ `fire_warn`, high ≥ `fire_high`. Input is the long metrics
    table already produced by partition_metrics (rule_fire_rate:* rows +
    count rows), so this is a self-join of a tiny aggregate."""
    rates = mrows.filter(
        F.col("metric_name").startswith("rule_fire_rate:")
    ).select(
        "partition",
        F.split(F.col("metric_name"), ":")[1].alias("rule"),
        F.col("metric_value").alias("fire_rate"),
    )
    counts = mrows.filter(F.col("metric_name") == "count").select(
        "partition", F.col("metric_value").alias("total_rows")
    )
    j = rates.join(counts, "partition").filter(F.col("fire_rate") > 0)
    sev = (
        F.when(F.col("fire_rate") >= fire_high, "high")
        .when(F.col("fire_rate") >= fire_warn, "medium")
        .otherwise("low")
    )
    ev = j.select(
        "partition",
        F.concat(F.lit("rule_fire_rate:"), F.col("rule")).alias("metric_name"),
        F.lit(0.0).alias("baseline_value"),
        F.col("fire_rate").alias("current_value"),
        F.col("fire_rate").alias("score"),
        sev.alias("severity"),
        F.to_json(F.struct(
            F.col("rule").alias("rule_type"),
            F.col("total_rows"),
            F.round(F.col("fire_rate") * F.col("total_rows")).alias("total_failures"),
            (F.col("fire_rate") * 100.0).alias("failure_rate"),
        )).alias("metadata_json"),
    )
    return _finish(ev, run_id, "validation_failed")


def write_schema_snapshot(
    spark: SparkSession, df: DataFrame, schema_dir: str, run_id: str
) -> None:
    """Record the docs schema for this run (append; latest run wins on
    read). The snapshot is O(columns) METADATA — written driver-side
    with pyarrow (a new file per call = append semantics) instead of
    launching a Spark job for a handful of rows (guide §1.2: fixed
    per-job scheduling cost dwarfs metadata-scale work)."""
    import datetime as _dt
    import os
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(schema_dir, exist_ok=True)
    now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    names = [f.name for f in df.schema.fields]
    types = [f.dataType.simpleString() for f in df.schema.fields]
    tbl = pa.table({
        "run_id": pa.array([run_id] * len(names), type=pa.string()),
        "column_name": pa.array(names, type=pa.string()),
        "data_type": pa.array(types, type=pa.string()),
        "ts": pa.array([now] * len(names), type=pa.timestamp("us")),
    })
    pq.write_table(
        tbl, os.path.join(schema_dir, f"part-{_uuid.uuid4().hex}.parquet")
    )


def _normalize_type_py(t: str) -> str:
    from ..operators.schema_drift import _TYPE_SYNONYMS

    t = t.lower()
    return _TYPE_SYNONYMS.get(t, t)


def _naive_utc(ts):
    """Snapshot timestamp as naive UTC, the form write_schema_snapshot
    writes; tz-aware ones (older Spark-written snapshots) are converted
    to UTC, never to the host's local zone, so both kinds compare."""
    if ts.tzinfo is None:
        return ts
    import datetime as _dt

    return ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)


def schema_change_events(
    spark: SparkSession, schema_dir: str, run_id: str
) -> DataFrame:
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
    import json as _json
    import os

    import pyarrow.parquet as pq

    empty = spark.createDataFrame(
        [], schema="partition string, metric_name string, baseline_value double,"
        " current_value double, score double, severity string, metadata_json string",
    )
    if not os.path.isdir(schema_dir):
        return _finish(empty, run_id, "schema_change")
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
        return _finish(empty, run_id, "schema_change")
    prev_id = max(latest.items(), key=lambda kv: (kv[1], kv[0]))[0]

    cur = {r["column_name"]: _normalize_type_py(r["data_type"])
           for r in rows if r["run_id"] == run_id}
    base = {r["column_name"]: _normalize_type_py(r["data_type"])
            for r in rows if r["run_id"] == prev_id}
    ev_rows = []
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
        ev_rows.append((
            "__schema__", col, None, None, None, sev,
            _json.dumps(meta, separators=(",", ":")),
        ))
    if not ev_rows:
        return _finish(empty, run_id, "schema_change")
    # pandas → Arrow-backed local relation: a plain python-list
    # createDataFrame executes through per-partition Python-worker round
    # trips, which serialize brutally under the single-writer-task event
    # sink; the Arrow path materializes rows JVM-side
    import pandas as pd

    ev = spark.createDataFrame(
        pd.DataFrame(
            ev_rows,
            columns=["partition", "metric_name", "baseline_value",
                     "current_value", "score", "severity", "metadata_json"],
        ),
        schema="partition string, metric_name string, baseline_value double,"
        " current_value double, score double, severity string, metadata_json string",
    )
    return _finish(ev, run_id, "schema_change")


def anomaly_events(
    spark: SparkSession,
    metrics_dir: str,
    run_id: str,
    sigma: float = 3.0,
) -> DataFrame:
    """AnomalyDetected analogue (reference events.py:252-283) via
    control limits (detection_methods control_limits): a partition whose
    doc count falls outside mean ± 3σ of the OTHER partitions' counts is
    anomalous. Leave-one-out matters: the reference learns limits from
    history and compares the current value against them — including the
    tested point in the stats caps the max possible z at (k−1)/√k, so a
    single extreme partition among ten could never reach 3σ. Computed
    from sum/sum-of-squares in one aggregate over the tiny metrics
    table."""
    counts = (
        spark.read.parquet(metrics_dir).filter(F.col("metric_name") == "count")
        .groupBy("partition")
        .agg(F.max("metric_value").alias("n"))
    )
    stats = counts.agg(
        F.sum("n").alias("S"), F.sum(F.col("n") * F.col("n")).alias("SS"),
        F.count(F.lit(1)).alias("k"),
    )
    j = counts.crossJoin(F.broadcast(stats)).filter(F.col("k") >= 4)
    mu = (F.col("S") - F.col("n")) / (F.col("k") - 1)
    var = (
        (F.col("SS") - F.col("n") * F.col("n")) - (F.col("k") - 1) * mu * mu
    ) / (F.col("k") - 2)
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.abs(F.col("n") - mu) / sd
    j = (
        j.withColumn("mu", mu).withColumn("sd", sd).withColumn("z", z)
        .filter(F.col("sd").isNotNull() & (F.col("sd") > 0)
                & (F.col("z") > sigma))
    )
    ev = j.select(
        "partition",
        F.lit("count").alias("metric_name"),
        F.col("mu").alias("baseline_value"),
        F.col("n").alias("current_value"),
        F.col("z").alias("score"),
        F.when(F.col("z") > 2 * sigma, "high")
        .otherwise("medium").alias("severity"),
        F.to_json(F.struct(
            F.lit("control_limits").alias("detection_method"),
            F.lit("rowcount").alias("anomaly_type"),
            F.col("mu").alias("expected_value"),
            F.col("n").alias("actual_value"),
        )).alias("metadata_json"),
    )
    return _finish(ev, run_id, "anomaly_detected")
