"""Metric declarations: every metric the harness emits, its unit, which
way is better, and — for a per-layer metric — the end-to-end metric and
workload it should move. BENCHMARK.json mirrors these lists; the
self-tests assert that the two agree and that the harness emits exactly
these names.
"""

from __future__ import annotations

import re

WORKLOADS = {
    "pipeline": "fresh 2k-doc backfill over 10 Zipf-skewed days, then the "
                "scheduled rerun that skips every fresh partition: per-chunk "
                "fixed cost, Python-worker time and resume",
    "analytics": "the 14 bench.HEADLINE registry queries over the fixed "
                 "sf0.01 test tables: operators through Catalyst, no UDF",
}

#: name, unit, better, bound
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
)

PHASES = ("transform_write", "metrics", "drift", "counts_lineage", "manifest")
PHASE_STATS = (
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("task_skew", "ratio", "lower"),
)

#: headline queries, in bench.HEADLINE order (asserted by the self-tests)
QUERIES = (
    "tpch_q1", "top_customers_revenue", "profile_lineitem",
    "histogram_quantity", "validation_suite", "psi_value", "ks_value",
    "learn_expectations", "doc_stats", "keep_drop_docs",
    "dedup_exact_summary", "minhash_signatures", "simhash_docs", "knn_cosine",
)

#: tables each headline query scans (its input rows for ``rows_per_s``)
QUERY_TABLES = {
    "tpch_q1": ("lineitem",),
    "top_customers_revenue": ("lineitem", "orders", "customer"),
    "profile_lineitem": ("lineitem",),
    "histogram_quantity": ("lineitem",),
    "validation_suite": ("orders", "customer"),
    "psi_value": ("events",),
    "ks_value": ("events",),
    "learn_expectations": ("events",),
    "doc_stats": ("documents",),
    "keep_drop_docs": ("documents",),
    "dedup_exact_summary": ("documents",),
    "minhash_signatures": ("documents",),
    "simhash_docs": ("documents",),
    "knn_cosine": ("embeddings",),
}

ALL = "pipeline,analytics"
PIPE = "pipeline"


def _per_layer():
    """(name, unit, better, moves, workloads); ``moves`` is the
    end-to-end metric the layer should move, or None for a probe."""
    out = [("session.build_s", "s", "lower", "setup_s", ALL)]
    # Probes, not parts of the op: at 2k docs the per-doc kernel work is
    # about 1% of a pipeline op and the identity floor runs no program
    # code, so neither moves an end-to-end metric measurably.
    for k in ("langid", "perplexity", "scrub", "feature_batch"):
        out.append((f"functions.{k}_us_per_doc", "us", "lower", None, PIPE))
    out += [
        ("functions.scoring.py_worker_s", "s", "lower", "rows_per_s", PIPE),
        ("functions.scoring.bytes_to_py", "B", "lower", "rows_per_s", PIPE),
        ("functions.scoring.bytes_from_py", "B", "lower", "rows_per_s", PIPE),
        ("functions.scoring.identity_floor_pandas_s", "s", "lower", None,
         PIPE),
        ("functions.scoring.identity_floor_arrow_s", "s", "lower", None,
         PIPE),
    ]
    for ph in PHASES:
        e2e = "rows_per_s" if ph == "transform_write" else "wall_s"
        out.append((f"plans.pipeline.{ph}_s", "s", "lower", e2e, PIPE))
        for stat, unit, better in PHASE_STATS:
            out.append((f"plans.pipeline.{ph}.{stat}", unit, better, e2e, PIPE))
    out += [
        ("plans.planner.plan_partitions_s", "s", "lower", "wall_s", PIPE),
        ("sources.list_partitions_s", "s", "lower", "wall_s", PIPE),
        ("sources.done_partitions_s", "s", "lower", "wall_s", PIPE),
        ("sources.fingerprint_s", "s", "lower", "wall_s", PIPE),
        ("sources.commit_partitions_s", "s", "lower", "wall_s", PIPE),
        ("plans.events.anomaly_events_s", "s", "lower", "wall_s", PIPE),
        ("plans.events.write_schema_snapshot_s", "s", "lower", "wall_s",
         PIPE),
        ("plans.events.schema_change_events_s", "s", "lower", "wall_s",
         PIPE),
        ("sources.write_partitioned_s", "s", "lower", "rows_per_s", PIPE),
        ("sources.files_written", "count", "lower", "rows_per_s", PIPE),
        ("sources.out_bytes_per_doc", "B", "lower", "rows_per_s", PIPE),
    ]
    for q in QUERIES:
        out.append((f"query.{q}_s", "s", "lower", "wall_s", "analytics"))
    out += [
        ("peak_rss_mb", "MB", "lower", "wall_s", ALL),
        ("spill_bytes", "B", "lower", "wall_s", ALL),
        ("gc_s", "s", "lower", "wall_s", ALL),
        ("op.wall_s", "s", "lower", "wall_s", ALL),
        ("op.phase_sum_s", "s", "lower", "wall_s", PIPE),
        ("trace.overhead_s", "s", "lower", "wall_s", ALL),
    ]
    return tuple(out)


PER_LAYER = _per_layer()

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def benchmark_spec(command: list[str], paths: list[str], run_seconds: int) -> dict:
    """The BENCHMARK.json document these declarations describe."""
    return {
        "command": command,
        "paths": paths,
        "run_seconds": run_seconds,
        "workloads": [{"name": k, "why": v} for k, v in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _, _ in PER_LAYER],
    }
