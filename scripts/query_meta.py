#!/usr/bin/env python
"""Read-side metadata CLI over a pipeline output root.

Maps the reference CLI's query surface
(/root/reference/baselinr/cli.py:3908-4046 `query runs|drift|run|table`,
:3992-4046 `lineage upstream|downstream|path`) onto the tables the
pipeline writes under --output (docs/metrics/events/lineage/
processed_partitions). Prints one JSON line per result row.

Also carries the reference CLI's WRITE-side verbs (cli.py:196-879
plan/profile/drift/validate/score) over a parquet-table warehouse:
`profile` appends long-format metric rows to <output>/profile_runs;
`drift-check` (the reference's top-level `drift`; the name `drift`
here already means the event query) compares two stored runs;
`validate` runs rule specs in one agg pass; `score` emits the
six-component quality score.

Usage:
  spark-submit scripts/query_meta.py --output /path/out runs [--status done]
  ... query drift   [--partition P] [--severity high] [--limit N]
  ... query run     --run-id R
  ... query table   --partition P
  ... lineage upstream|downstream --table T [--max-depth D]
  ... lineage path --from-table A --to-table B
  ... profile --warehouse DIR --table T [--run-id R] [--dry-run]
  ... drift-check --table T [--baseline R1] [--current R2]
                  [--drift-only] [--fail-on-drift]
  ... validate --warehouse DIR --table T [--rules-json FILE]
  ... score --warehouse DIR --table T
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _emit(df: DataFrame) -> list[dict]:
    return _print_rows([
        {k: (v.isoformat() if hasattr(v, "isoformat") else v)
         for k, v in r.asDict().items()}
        for r in df.collect()
    ])


def _print_rows(rows: list[dict]) -> list[dict]:
    """One JSON line per row."""
    for r in rows:
        print(json.dumps(r, default=str))
    return rows


def cmd_runs(spark, out_root, args) -> list[dict]:
    from baselinr_spark.sources import catalog, manifest

    m = catalog.rows_frame(spark, manifest.latest_rows(out_root),
                           manifest.MANIFEST_DDL)
    if args.status:
        m = m.filter(F.col("status") == args.status)
    return _emit(
        m.orderBy(F.desc("completed_at"), "partition").limit(args.limit)
    )


def cmd_drift(spark, out_root, args) -> list[dict]:
    ev = spark.read.parquet(os.path.join(out_root, "events"))
    if args.partition:
        ev = ev.filter(F.col("partition") == args.partition)
    if args.severity:
        ev = ev.filter(F.col("severity") == args.severity)
    if args.event_type:
        ev = ev.filter(F.col("event_type") == args.event_type)
    ev = ev.drop("partition_key")
    return _emit(ev.orderBy(F.desc("ts"), "event_id").limit(args.limit))


def cmd_run(spark, out_root, args) -> list[dict]:
    met = spark.read.parquet(os.path.join(out_root, "metrics"))
    met = met.filter(F.col("run_id") == args.run_id).drop("partition_key")
    return _emit(met.orderBy("partition", "column_name", "metric_name"))


def cmd_table(spark, out_root, args) -> list[dict]:
    met = spark.read.parquet(os.path.join(out_root, "metrics"))
    met = met.filter(
        (F.col("partition") == args.partition)
        & F.col("metric_name").isin("count", "kept_count", "keep_rate")
    ).drop("partition_key")
    return _emit(met.orderBy(F.desc("profiled_at"), "metric_name"))


def cmd_status(spark, out_root, args) -> list[dict]:
    """Health rollup per partition (reference cli.py:3967-3991 `status`):
    worst severity, event count per type, latest event time."""
    from baselinr_spark.severity import severity_rank_expr

    ev = spark.read.parquet(os.path.join(out_root, "events"))
    sev_rank = severity_rank_expr(F.col("severity"))
    agg = ev.groupBy("partition").agg(
        F.max(sev_rank).alias("_sev"),
        F.count("*").alias("event_count"),
        F.sum((F.col("event_type") == "validation_failed").cast("int")
              ).alias("validation_failed"),
        F.sum((F.col("event_type") == "distribution_drift").cast("int")
              ).alias("distribution_drift"),
        F.sum((F.col("event_type") == "anomaly_detected").cast("int")
              ).alias("anomaly_detected"),
        F.max("ts").alias("latest_event"),
    )
    status = (
        F.when(F.col("_sev") >= 3, "critical")
        .when(F.col("_sev") == 2, "warning")
        .otherwise("healthy")
    )
    return _emit(
        agg.select("partition", status.alias("status"), "event_count",
                   "validation_failed", "distribution_drift",
                   "anomaly_detected", "latest_event", "_sev")
        # worst first: order by the numeric rank, not the label string
        .orderBy(F.desc("_sev"), "partition")
        .drop("_sev")
    )


def cmd_lineage(spark, out_root, args) -> list[dict]:
    from baselinr_spark.query.lineage import (
        get_downstream_tables,
        get_lineage_path,
        get_upstream_tables,
        pipeline_edges,
    )

    edges = pipeline_edges(spark, out_root)
    if args.lineage_command == "upstream":
        return _emit(get_upstream_tables(edges, args.table, args.max_depth))
    if args.lineage_command == "downstream":
        return _emit(get_downstream_tables(edges, args.table, args.max_depth))
    if args.lineage_command == "visualize":
        from baselinr_spark.operators.graph_export import (
            lineage_graph_export, to_dot, to_json, to_mermaid,
        )

        g = lineage_graph_export(edges, args.table,
                                 max_depth=args.max_depth or 3)
        render = {"mermaid": to_mermaid, "dot": to_dot, "json": to_json}
        text = render[args.format](g)
        print(text)
        return [{"format": args.format, "chars": len(text)}]
    return _emit(get_lineage_path(edges, args.from_table, args.to_table))


def cmd_plan(spark, out_root, args) -> list[dict]:
    """Dry-run the incremental planner over an input warehouse: one
    decision row per partition (reference cli.py plan surface /
    incremental/planner.py:95-138 IncrementalPlan)."""
    from baselinr_spark.plans.planner import (
        AdaptiveScheduling, CostControls, plan_partitions,
    )

    scheduling = cost = None
    if args.freshness_interval_minutes is not None:
        scheduling = AdaptiveScheduling(
            enabled=True,
            default_interval_minutes=args.freshness_interval_minutes,
            min_interval_minutes=0,
        )
    if args.max_bytes_scanned is not None or args.max_rows_scanned is not None:
        cost = CostControls(
            enabled=True,
            max_bytes_scanned=args.max_bytes_scanned,
            max_rows_scanned=args.max_rows_scanned,
            fallback_strategy=args.fallback_strategy,
            sample_fraction=args.sample_fraction,
        )
    return _print_rows(plan_partitions(
        args.input, out_root,
        scheduling=scheduling, cost=cost,
        reprocess_changed=args.reprocess_changed,
    ))


def cmd_recommend(spark, out_root, args) -> list[dict]:
    """Smart-selection recommendation surface (reference cli.py
    recommend-checks): profile the given table once, emit prioritized
    check recommendations with confidence — one JSON row per check,
    plus per-column confidence rows with --confidence."""
    from baselinr_spark.operators.recommender import (
        column_confidence, column_stats, prioritize_checks,
        recommend_checks,
    )

    name = args.table_name or os.path.basename(args.input.rstrip("/"))
    df = spark.read.parquet(args.input)
    stats = column_stats(df, name)
    rec = recommend_checks(stats)
    if args.confidence:
        return _emit(column_confidence(rec, stats)
                     .orderBy("table_name", "column_name"))
    out = prioritize_checks(
        rec, stats, max_checks_per_table=args.max_checks_per_table)
    return _emit(out.orderBy("table_name", "column_name", "col_rank"))


def _profile_store(out_root: str) -> str:
    return os.path.join(out_root, "profile_runs")


def cmd_profile(spark, out_root, args) -> list[dict]:
    """Write-side `profile` (reference cli.py:3766-3774 / cmd_profile
    :196-433): profile a warehouse parquet table and append the
    long-format rows to <output>/profile_runs keyed by run_id, so two
    invocations seed the drift-check history exactly like the
    reference's profile-twice-then-drift CI (cli-e2e.yml:60-73).
    --dry-run prints without storing."""
    import uuid

    path = os.path.join(args.warehouse, args.table)
    if not os.path.exists(path):
        path = os.path.join(args.warehouse, f"{args.table}.parquet")
    df = spark.read.parquet(path)
    cols = args.columns.split(",") if args.columns else None
    from baselinr_spark.operators.profiling import profile

    run_id = args.run_id or uuid.uuid4().hex[:12]
    rows = profile(df, columns=cols).select(
        F.lit(args.table).alias("table_name"),
        F.lit(run_id).alias("run_id"),
        F.current_timestamp().alias("profiled_at"),
        "column_name", "metric_name", "metric_value", "metric_str",
    )
    if not args.dry_run:
        rows.coalesce(1).write.mode("append").parquet(_profile_store(out_root))
        return _emit(
            spark.read.parquet(_profile_store(out_root))
            .filter(F.col("run_id") == run_id)
            .orderBy("column_name", "metric_name")
        )
    return _emit(rows.orderBy("column_name", "metric_name"))


def _run_order(store: DataFrame, table: str) -> list[str]:
    """run_ids for a table, newest first (by max profiled_at, run_id)."""
    rows = (
        store.filter(F.col("table_name") == table)
        .groupBy("run_id").agg(F.max("profiled_at").alias("t"))
        .orderBy(F.desc("t"), F.desc("run_id"))
        .collect()
    )
    return [r["run_id"] for r in rows]


def cmd_drift_check(spark, out_root, args) -> list[dict]:
    """Write-side `drift` (reference cli.py:3776-3792 / cmd_drift
    :984-1232): compare two stored profile runs of a table — current
    defaults to the latest run, baseline to the second-latest — with
    the absolute-threshold strategy; --fail-on-drift exits 3 when any
    high-severity drift is found (the reference's critical-drift exit
    path)."""
    from baselinr_spark.operators.drift import absolute_threshold

    store = spark.read.parquet(_profile_store(out_root))
    order = _run_order(store, args.table)
    current = args.current or (order[0] if order else None)
    baseline = args.baseline or (order[1] if len(order) > 1 else None)
    if not current or not baseline:
        print(json.dumps({"error": "need at least two stored profile runs",
                          "runs_found": len(order)}), file=sys.stderr)
        raise SystemExit(2)
    t = store.filter(F.col("table_name") == args.table)
    base = t.filter(F.col("run_id") == baseline).select(
        "column_name", "metric_name", F.col("metric_value").alias("base_value")
    )
    cur = t.filter(F.col("run_id") == current).select(
        "column_name", "metric_name", F.col("metric_value").alias("cur_value")
    )
    joined = base.join(cur, ["column_name", "metric_name"]).where(
        F.col("base_value").isNotNull() & F.col("cur_value").isNotNull()
    )
    out = absolute_threshold(joined).select(
        F.lit(args.table).alias("table_name"),
        F.lit(baseline).alias("baseline_run"),
        F.lit(current).alias("current_run"),
        "column_name", "metric_name", "base_value", "cur_value",
        F.round("change_pct", 6).alias("change_pct"), "drift", "severity",
    )
    if args.drift_only:
        out = out.filter(F.col("drift"))
    rows = _emit(out.orderBy("column_name", "metric_name"))
    if args.fail_on_drift and any(r["severity"] == "high" for r in rows):
        raise SystemExit(3)
    return rows


def cmd_validate(spark, out_root, args) -> list[dict]:
    """Write-side `validate` (reference cli.py:3794-3800 / cmd_validate):
    run validation rules over a warehouse table in one agg pass. Rules
    come from --rules-json (list of {name, rule_type, column, ...}
    objects); default is not_null on every column."""
    from baselinr_spark.operators.validation import Rule, validate

    path = os.path.join(args.warehouse, args.table)
    if not os.path.exists(path):
        path = os.path.join(args.warehouse, f"{args.table}.parquet")
    df = spark.read.parquet(path)
    if args.rules_json:
        with open(args.rules_json) as fh:
            specs = json.load(fh)
        rules = [Rule(**{**s, "values": tuple(s.get("values", ()))})
                 for s in specs]
    else:
        rules = [Rule(name=f"{c}_not_null", rule_type="not_null", column=c)
                 for c in df.columns]
    return _emit(validate(df, rules))


def cmd_score(spark, out_root, args) -> list[dict]:
    """Write-side `score` (reference cli.py:3802-3866 / quality
    scorer.py): profile the table, run the six-component quality score,
    emit the single overall row (0-100 + letter band)."""
    from baselinr_spark.operators.profiling import profile
    from baselinr_spark.operators.quality import component_scores, overall_score

    path = os.path.join(args.warehouse, args.table)
    if not os.path.exists(path):
        path = os.path.join(args.warehouse, f"{args.table}.parquet")
    df = spark.read.parquet(path)
    comp = component_scores(profile(df))
    return _emit(overall_score(comp).withColumn(
        "table_name", F.lit(args.table)
    ))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="query_meta")
    p.add_argument("--output", required=True, help="pipeline output root")
    sub = p.add_subparsers(dest="command", required=True)

    rec = sub.add_parser("recommend")
    rec.add_argument("--input", required=True,
                     help="parquet table dir to profile")
    rec.add_argument("--table-name", default=None)
    rec.add_argument("--max-checks-per-table", type=int, default=50)
    rec.add_argument("--confidence", action="store_true",
                     help="emit per-column confidence rows instead")

    runs = sub.add_parser("runs")
    runs.add_argument("--status")
    runs.add_argument("--limit", type=int, default=100)

    drift = sub.add_parser("drift")
    drift.add_argument("--partition")
    drift.add_argument("--severity")
    drift.add_argument("--event-type")
    drift.add_argument("--limit", type=int, default=100)

    run = sub.add_parser("run")
    run.add_argument("--run-id", required=True)

    table = sub.add_parser("table")
    table.add_argument("--partition", required=True)

    sub.add_parser("status")

    plan = sub.add_parser("plan")
    plan.add_argument("--input", required=True, help="pages warehouse path")
    plan.add_argument("--freshness-interval-minutes", type=int, default=None)
    plan.add_argument("--max-bytes-scanned", type=int, default=None)
    plan.add_argument("--max-rows-scanned", type=int, default=None)
    plan.add_argument("--fallback-strategy", default="sample",
                      choices=["sample", "defer", "full"])
    plan.add_argument("--sample-fraction", type=float, default=0.1)
    plan.add_argument("--reprocess-changed", action="store_true")

    prof = sub.add_parser("profile")
    prof.add_argument("--warehouse", required=True,
                      help="dir of parquet tables (<table> or <table>.parquet)")
    prof.add_argument("--table", required=True)
    prof.add_argument("--run-id", default=None)
    prof.add_argument("--columns", default=None,
                      help="comma-separated column subset")
    prof.add_argument("--dry-run", action="store_true")

    dc = sub.add_parser("drift-check")
    dc.add_argument("--table", required=True)
    dc.add_argument("--baseline", default=None,
                    help="baseline run id (default: second-latest)")
    dc.add_argument("--current", default=None,
                    help="current run id (default: latest)")
    dc.add_argument("--drift-only", action="store_true")
    dc.add_argument("--fail-on-drift", action="store_true")

    val = sub.add_parser("validate")
    val.add_argument("--warehouse", required=True)
    val.add_argument("--table", required=True)
    val.add_argument("--rules-json", default=None)

    sc = sub.add_parser("score")
    sc.add_argument("--warehouse", required=True)
    sc.add_argument("--table", required=True)

    lin = sub.add_parser("lineage")
    lsub = lin.add_subparsers(dest="lineage_command", required=True)
    for name in ("upstream", "downstream"):
        lp = lsub.add_parser(name)
        lp.add_argument("--table", required=True)
        lp.add_argument("--max-depth", type=int, default=None)
    path = lsub.add_parser("path")
    path.add_argument("--from-table", required=True)
    path.add_argument("--to-table", required=True)
    viz = lsub.add_parser("visualize")
    viz.add_argument("--table", required=True)
    viz.add_argument("--max-depth", type=int, default=None)
    viz.add_argument("--format", default="mermaid",
                     choices=["mermaid", "dot", "json"])
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None):
    args = build_parser().parse_args(argv)
    # `plan` reads only with pyarrow: it starts no Spark session
    own_session = spark is None and args.command != "plan"
    if own_session:
        from baselinr_spark.session import build_session

        spark = build_session(app_name="query_meta")
    try:
        fn = {
            "runs": cmd_runs,
            "drift": cmd_drift,
            "run": cmd_run,
            "table": cmd_table,
            "status": cmd_status,
            "plan": cmd_plan,
            "recommend": cmd_recommend,
            "lineage": cmd_lineage,
            "profile": cmd_profile,
            "drift-check": cmd_drift_check,
            "validate": cmd_validate,
            "score": cmd_score,
        }[args.command]
        return fn(spark, args.output, args)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main()
