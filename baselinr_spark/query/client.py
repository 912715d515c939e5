"""Metadata query client: read-side API over runs / metrics / events.

Recasts the reference MetadataQueryClient
(/root/reference/baselinr/query/client.py:86-585) as pure DataFrame
transformations. The reference issues per-call SQLAlchemy SQL against a
warehouse; here every method takes the metadata *tables* (DataFrames —
typically partitioned parquet written by the pipeline) and returns a
DataFrame, so calls compose into larger plans, push filters into the
parquet scan, and never round-trip rows through the driver.

Scale notes: metadata tables are tiny relative to the data they
describe (O(runs × columns), not O(rows)), but on a long-lived
warehouse they still reach billions of rows — so everything here stays
distributed: filters + window functions, no collect, no driver loops.
``limit``/``offset`` pagination is implemented as a ``row_number`` over
the requested ordering — deterministic pagination, unlike a bare
LIMIT/OFFSET over an unordered scan.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..severity import severity_rank_expr


def _paginate(df: DataFrame, order: list, limit: int, offset: int) -> DataFrame:
    # orderBy().limit() compiles to TakeOrderedAndProject — per-partition
    # top-(offset+limit) then a driver-side merge, never a global sort
    # shuffle. Only the tiny surviving page goes through the numbering
    # window, so the single-partition window is O(offset+limit), not O(n).
    top = df.orderBy(*order).limit(offset + limit)
    w = W.orderBy(*order)
    return (
        top.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > offset)
        .drop("_rn")
    )


def _since(ts_col: Column, days: int | None, now: dt.datetime | None) -> Column:
    if days is None:
        return F.lit(True)
    if now is None:
        raise ValueError("days filter requires an explicit `now` anchor "
                         "(keeps plans deterministic and testable)")
    return ts_col > F.lit(now - dt.timedelta(days=days))


def query_runs(
    runs: DataFrame,
    schema: str | None = None,
    table: str | None = None,
    status: str | None = None,
    environment: str | None = None,
    days: int | None = None,
    now: dt.datetime | None = None,
    limit: int = 100,
    offset: int = 0,
) -> DataFrame:
    """Profiling runs, filtered and paginated (client.py:103-191).

    runs: (run_id, dataset_name, schema_name, profiled_at:timestamp,
           environment, status, row_count, column_count).
    Ordered by profiled_at DESC (run_id tiebreak for determinism).
    """
    out = runs
    if schema is not None:
        out = out.where(F.col("schema_name") == schema)
    if table is not None:
        out = out.where(F.col("dataset_name") == table)
    if status is not None:
        out = out.where(F.col("status") == status)
    if environment is not None:
        out = out.where(F.col("environment") == environment)
    out = out.where(_since(F.col("profiled_at"), days, now))
    return _paginate(
        out, [F.col("profiled_at").desc(), F.col("run_id")], limit, offset
    )


def query_run_details(
    runs: DataFrame,
    metrics: DataFrame,
    run_id: str,
    dataset_name: str | None = None,
) -> DataFrame:
    """Run metadata joined with its per-column metrics
    (client.py:192-271). The reference returns a nested dict; the
    relational recast returns one row per (column, metric) with the run
    header columns broadcast-joined on — ``collect()`` + pivot on the
    caller side if a nested shape is needed.

    metrics: (run_id, dataset_name, column_name, column_type,
              metric_name, metric_value).
    """
    r = runs.where(F.col("run_id") == run_id)
    m = metrics.where(F.col("run_id") == run_id)
    if dataset_name is not None:
        r = r.where(F.col("dataset_name") == dataset_name)
        m = m.where(F.col("dataset_name") == dataset_name)
    return (
        r.select("run_id", "dataset_name", "schema_name", "profiled_at",
                 "status", "row_count", "column_count")
        .join(F.broadcast(m.select("run_id", "column_name", "column_type",
                                   "metric_name", "metric_value")),
              "run_id", "inner")
        .orderBy("column_name", "metric_name")
    )


def query_drift_events(
    events: DataFrame,
    table: str | None = None,
    severity: str | None = None,
    days: int | None = None,
    now: dt.datetime | None = None,
    limit: int = 100,
    offset: int = 0,
) -> DataFrame:
    """Drift events, filtered and paginated (client.py:272-350).

    events: (event_id, event_type, table_name, column_name, metric_name,
             baseline_value, current_value, change_percent,
             drift_severity, timestamp).
    """
    out = events
    if table is not None:
        out = out.where(F.col("table_name") == table)
    if severity is not None:
        out = out.where(F.col("drift_severity") == severity)
    out = out.where(_since(F.col("timestamp"), days, now))
    return _paginate(
        out, [F.col("timestamp").desc(), F.col("event_id")], limit, offset
    )


def query_table_history(
    runs: DataFrame,
    table_name: str,
    schema_name: str | None = None,
    days: int | None = 30,
    now: dt.datetime | None = None,
) -> DataFrame:
    """Run history for one table, newest first (client.py:351-410)."""
    out = runs.where(F.col("dataset_name") == table_name)
    if schema_name is not None:
        out = out.where(F.col("schema_name") == schema_name)
    out = out.where(_since(F.col("profiled_at"), days, now))
    return out.select(
        "run_id", "profiled_at", "status", "row_count", "column_count"
    ).orderBy(F.col("profiled_at").desc(), F.col("run_id"))


def drift_type_of_metric(metric: Column) -> Column:
    """Infer drift type from a metric name (client.py:540-553):
    schema/column → schema; count/row → volume; mean/stddev/
    distribution → distribution; profiled_at/freshness → freshness."""
    m = F.lower(metric)
    return (
        F.when(m.contains("schema") | m.contains("column"), F.lit("schema"))
        .when(m.contains("count") | m.contains("row"), F.lit("volume"))
        .when(
            m.contains("mean") | m.contains("stddev") | m.contains("distribution"),
            F.lit("distribution"),
        )
        .when(m.contains("profiled_at") | m.contains("freshness"),
              F.lit("freshness"))
        .otherwise(F.lit(None).cast("string"))
    )


def query_active_drift_summary(
    events: DataFrame,
    days: int = 7,
    now: dt.datetime | None = None,
) -> DataFrame:
    """Per-table active-drift rollup (client.py:487-585): highest
    severity, dominant drift type (schema > volume > distribution >
    freshness > unknown), earliest event, and event count for every
    table with drift events in the window, ordered severity-first.

    One groupBy over the filtered events — the reference's driver-side
    dict loop becomes a single aggregation.
    """
    ev = events.where(
        F.col("table_name").isNotNull()
        & _since(F.col("timestamp"), days, now)
    )
    dtype = drift_type_of_metric(F.col("metric_name"))
    type_rank = (
        F.when(dtype == "schema", F.lit(4))
        .when(dtype == "volume", F.lit(3))
        .when(dtype == "distribution", F.lit(2))
        .when(dtype == "freshness", F.lit(1))
        .otherwise(F.lit(0))
    )
    agg = ev.groupBy("table_name").agg(
        # high > medium > low > none (client.py:516)
        F.max(severity_rank_expr(F.col("drift_severity"))).alias("_sev"),
        F.max(type_rank).alias("_trank"),
        F.min("timestamp").alias("started_at"),
        F.count("*").alias("event_count"),
    )
    severity = (
        # none (0) reports as "low" (client.py:571)
        F.when(F.col("_sev") == 3, F.lit("high"))
        .when(F.col("_sev") == 2, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    drift_type = (
        F.when(F.col("_trank") == 4, F.lit("schema"))
        .when(F.col("_trank") == 3, F.lit("volume"))
        .when(F.col("_trank") == 2, F.lit("distribution"))
        .when(F.col("_trank") == 1, F.lit("freshness"))
        .otherwise(F.lit("unknown"))
    )
    return agg.select(
        "table_name",
        severity.alias("severity"),
        drift_type.alias("drift_type"),
        "started_at",
        "event_count",
        F.col("_sev").alias("severity_rank"),
    ).orderBy(F.col("severity_rank").desc(), F.col("table_name").desc())
