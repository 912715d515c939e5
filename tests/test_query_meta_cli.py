"""The read-side metadata CLI over a real pipeline output root."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

import query_meta  # noqa: E402

from baselinr_spark.plans.pipeline import run_pipeline  # noqa: E402


def _run(spark, out_root, argv):
    return query_meta.main(["--output", out_root] + argv, spark=spark)


def test_query_meta_cli(spark, warehouse, out_root):
    summary = run_pipeline(spark, warehouse, out_root, run_id="cli-run")
    parts = sorted(summary["partitions_processed"])

    runs = _run(spark, out_root, ["runs", "--status", "done"])
    assert {r["partition"] for r in runs} == set(parts)
    assert all(r["run_id"] == "cli-run" and r["fingerprint"] for r in runs)

    limited = _run(spark, out_root, ["runs", "--limit", "2"])
    assert len(limited) == 2

    drift = _run(spark, out_root, ["drift", "--event-type",
                                   "validation_failed", "--limit", "5"])
    assert 0 < len(drift) <= 5
    assert all(e["event_type"] == "validation_failed" for e in drift)

    run_metrics = _run(spark, out_root, ["run", "--run-id", "cli-run"])
    assert any(m["metric_name"] == "count" for m in run_metrics)

    table = _run(spark, out_root, ["table", "--partition", parts[0]])
    names = {m["metric_name"] for m in table}
    assert names == {"count", "kept_count", "keep_rate"}

    # lineage: the output dir of partition p is downstream of its input dir
    up = _run(spark, out_root, ["lineage", "upstream", "--table",
                                os.path.join(out_root, "docs", f"dt={parts[0]}")])
    assert len(up) == 1
    assert up[0]["table"].endswith(f"dt={parts[0]}") and up[0]["depth"] == 0

    path = _run(spark, out_root, [
        "lineage", "path",
        "--from-table", os.path.join(warehouse, f"dt={parts[0]}"),
        "--to-table", os.path.join(out_root, "docs", f"dt={parts[0]}"),
    ])
    assert [p["step"] for p in path] == [0, 1]


def test_query_meta_status(spark, warehouse, out_root):
    run_pipeline(spark, warehouse, out_root, run_id="status-run")
    rows = _run(spark, out_root, ["status"])
    assert rows
    assert {r["status"] for r in rows} <= {"healthy", "warning", "critical"}
    by_part = {r["partition"]: r for r in rows}
    # validation_failed events exist on data partitions
    assert any(r["validation_failed"] > 0 for r in rows)
    assert all(
        r["event_count"] >= r["validation_failed"] + r["distribution_drift"]
        + r["anomaly_detected"] for r in rows
    )
    assert all(r["latest_event"] is not None for r in by_part.values())


def test_query_meta_recommend(spark, warehouse, out_root):
    rows = _run(spark, out_root, [
        "recommend", "--input", warehouse, "--table-name", "pages",
    ])
    assert rows
    cols = {r["column_name"] for r in rows}
    # pages schema: url, warc_ts, html, text, lang (+ dt partition col)
    assert "url" in cols and "warc_ts" in cols
    url_checks = {r["check_type"] for r in rows if r["column_name"] == "url"}
    assert "format_url" in url_checks
    ts_checks = {r["check_type"] for r in rows
                 if r["column_name"] == "warc_ts"}
    assert "freshness" in ts_checks or "valid_date_range" in ts_checks
    assert all(r["col_rank"] <= 5 for r in rows)

    conf = _run(spark, out_root, [
        "recommend", "--input", warehouse, "--table-name", "pages",
        "--confidence",
    ])
    assert {r["column_name"] for r in conf} >= cols
    assert all(r["confidence_level"] in ("high", "medium", "low")
               for r in conf)


def test_query_meta_plan_starts_no_session(warehouse, out_root, monkeypatch):
    """`plan` reads only with pyarrow: main builds no Spark session for
    it (a session build here raises)."""
    from baselinr_spark import session
    from baselinr_spark.sources import catalog

    def no_session(*args, **kwargs):
        raise AssertionError("query_meta plan built a Spark session")

    monkeypatch.setattr(session, "build_session", no_session)
    rows = query_meta.main(["--output", out_root, "plan", "--input", warehouse])
    assert [r["partition"] for r in rows] == catalog.list_partitions(warehouse)
    assert {r["action"] for r in rows} == {"run"}
