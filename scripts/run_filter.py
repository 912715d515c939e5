#!/usr/bin/env python
"""spark-submit entrypoint for the quality-filter pipeline.

Usage:
    spark-submit --py-files baselinr_spark.zip scripts/run_filter.py \
        --input /path/to/pages --output /path/to/out \
        [--gen-docs N] [--seed 42] [--checkpoint-every K] [--run-id ID]

With --gen-docs, the deterministic synthetic pages warehouse is
materialized at --input first (for bench/smoke runs; production points
--input at an existing Iceberg/parquet pages table).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--gen-docs", type=int, default=0)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--checkpoint-every", type=int, default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--repetition-rules", action="store_true",
                    help="enable the Gopher repetition rule family "
                         "(opt-in; changes keep/drop)")
    ap.add_argument("--line-rules", action="store_true",
                    help="enable the C4/Gopher line-shape rule family")
    ap.add_argument("--cc-rule", action="store_true",
                    help="enable the Luhn payment-card drop rule")
    ap.add_argument("--reprocess-changed", action="store_true",
                    help="also re-run done partitions whose input "
                         "fingerprint changed (upstream backfill)")
    ap.add_argument("--alert-min-severity", default=None,
                    help="enable logging alert hooks at this minimum "
                         "severity (low/medium/high)")
    ap.add_argument("--freshness-interval-minutes", type=int, default=None,
                    help="adaptive scheduling: skip partitions "
                         "re-profiled within this many minutes")
    ap.add_argument("--max-bytes-scanned", type=int, default=None,
                    help="cost cap: partitions estimated above this get "
                         "the fallback strategy")
    ap.add_argument("--max-rows-scanned", type=int, default=None,
                    help="cost cap on estimated row count")
    ap.add_argument("--fallback-strategy", default="sample",
                    choices=["sample", "defer", "full"],
                    help="what to do with a cost-capped partition")
    ap.add_argument("--sample-fraction", type=float, default=0.1,
                    help="hash-sample fraction for fallback-strategy="
                         "sample")
    ap.add_argument("--skew-mode", default="auto",
                    choices=["auto", "rebalance", "split"],
                    help="UDF-stage balancing: 'auto' (default) takes the "
                         "AQE REBALANCE shuffle for a chunk under "
                         "3 x cores x 2 MB (a few byte-balanced Python "
                         "tasks instead of one per small file); above that "
                         "it probes the parquet footers and picks "
                         "shuffle-free scan-split sizing when the layout "
                         "is bounded and splittable, else rebalance. The "
                         "choice and its reason are in the summary's "
                         "skew_mode_used / skew_mode_reason")
    ap.add_argument("--warmup", action="store_true",
                    help="run one partition into a throwaway dir first "
                         "(JIT + python-worker warmup; excluded from "
                         "pipeline_wall_s)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # required session settings regardless of how the session was built
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    import os

    if args.gen_docs and not os.path.isdir(args.input):
        from baselinr_spark.sources.pages import write_pages_warehouse

        write_pages_warehouse(spark, args.input, args.gen_docs, seed=args.seed)

    if not os.path.isdir(args.input):
        print(f"error: input path does not exist: {args.input}", file=sys.stderr)
        return 2

    from baselinr_spark.config import DEFAULT_CONFIG, FilterConfig
    from baselinr_spark.plans.pipeline import run_pipeline

    if args.repetition_rules or args.line_rules or args.cc_rule:
        cfg = FilterConfig(
            repetition_rules=args.repetition_rules,
            line_rules=args.line_rules,
            cc_rule=args.cc_rule,
        )
    else:
        cfg = DEFAULT_CONFIG

    import time

    if args.warmup:
        import shutil
        import tempfile

        wdir = tempfile.mkdtemp(prefix="warmup_")
        try:
            run_pipeline(spark, args.input, wdir, run_id="warmup",
                         max_partitions=1, skew_mode=args.skew_mode)
        finally:
            shutil.rmtree(wdir, ignore_errors=True)

    hooks = None
    if args.alert_min_severity:
        from baselinr_spark.plans.hooks import LoggingAlertHook

        hooks = [LoggingAlertHook()]

    scheduling = cost = None
    if args.freshness_interval_minutes is not None:
        from baselinr_spark.plans.planner import AdaptiveScheduling

        scheduling = AdaptiveScheduling(
            enabled=True,
            default_interval_minutes=args.freshness_interval_minutes,
            min_interval_minutes=0,
        )
    if args.max_bytes_scanned is not None or args.max_rows_scanned is not None:
        from baselinr_spark.plans.planner import CostControls

        cost = CostControls(
            enabled=True,
            max_bytes_scanned=args.max_bytes_scanned,
            max_rows_scanned=args.max_rows_scanned,
            fallback_strategy=args.fallback_strategy,
            sample_fraction=args.sample_fraction,
        )

    t0 = time.time()
    summary = run_pipeline(
        spark,
        args.input,
        args.output,
        cfg=cfg,
        run_id=args.run_id,
        checkpoint_every=args.checkpoint_every,
        reprocess_changed=args.reprocess_changed,
        hooks=hooks,
        hook_min_severity=args.alert_min_severity or "medium",
        scheduling=scheduling,
        cost=cost,
        skew_mode=args.skew_mode,
    )
    summary["pipeline_wall_s"] = round(time.time() - t0, 3)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
