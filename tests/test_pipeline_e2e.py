"""End-to-end: run the full pipeline over the synthetic warehouse and
compare every document against the pure-pandas reference labels
(keep/drop F1 ≥ 0.99 target from BASELINE.json; we assert exact parity
plus byte-identical scrubbed text)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from baselinr_spark.config import RULE_NAMES
from baselinr_spark.oracle.pandas_ref import reference_labels
from baselinr_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def pipeline_result(spark, warehouse, pages_pdf, tmp_path_factory):
    out_root = str(tmp_path_factory.mktemp("out"))
    summary = run_pipeline(spark, warehouse, out_root, run_id="run-e2e")
    docs = spark.read.parquet(os.path.join(out_root, "docs")).toPandas()
    labels = reference_labels(pages_pdf)
    return summary, out_root, docs, labels


def _f1(tp: int, fp: int, fn: int) -> float:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def test_keep_f1(pipeline_result):
    _, _, docs, labels = pipeline_result
    merged = docs.merge(labels, on="url", validate="1:1")
    assert len(merged) == len(labels)
    tp = int(((merged.keep) & (merged.expected_keep)).sum())
    fp = int(((merged.keep) & (~merged.expected_keep)).sum())
    fn = int(((~merged.keep) & (merged.expected_keep)).sum())
    assert _f1(tp, fp, fn) >= 0.99
    # drop reasons match exactly
    for _, row in merged.iterrows():
        assert list(row["drop_reasons"]) == list(row["expected_drop_reasons"]), row["url"]


def test_scrubbed_text_byte_identical(pipeline_result):
    _, _, docs, labels = pipeline_result
    merged = docs.merge(labels, on="url", validate="1:1")
    for _, row in merged.iterrows():
        assert row["scrubbed_text"] == row["expected_scrubbed_text"], row["url"]


def test_lang_and_perplexity_match(pipeline_result):
    _, _, docs, labels = pipeline_result
    merged = docs.merge(labels, on="url", validate="1:1")
    assert (merged["lang"] == merged["expected_lang"]).all()
    diff = (merged["perplexity"] - merged["expected_perplexity"]).abs()
    rel = diff / merged["expected_perplexity"].abs().clip(lower=1e-12)
    assert float(rel.max()) < 1e-9


def test_metrics_table(pipeline_result, spark):
    summary, out_root, docs, _ = pipeline_result
    m = spark.read.parquet(os.path.join(out_root, "metrics"))
    pdf = m.toPandas()
    parts = sorted(docs["dt"].astype(str).unique())
    assert sorted(pdf["partition"].unique()) == parts
    counts = pdf[pdf.metric_name == "count"].set_index("partition")["metric_value"]
    real = docs.groupby(docs["dt"].astype(str)).size()
    for p in parts:
        assert int(counts[p]) == int(real[p])
    kr = pdf[pdf.metric_name == "keep_rate"]["metric_value"]
    assert ((kr >= 0) & (kr <= 1)).all()
    # histogram rows parse and cover all docs with non-null ppl
    hist = pdf[pdf.metric_name == "perplexity_histogram"]
    assert len(hist) == len(parts)
    for _, row in hist.iterrows():
        bins = json.loads(row["metric_json"])
        assert sum(b["count"] for b in bins) == int(real[row["partition"]])
    # rule fire rate rows exist for every rule
    for r in RULE_NAMES:
        assert (pdf.metric_name == f"rule_fire_rate:{r}").any()


def test_events_and_lineage(pipeline_result, spark):
    summary, out_root, docs, _ = pipeline_result
    ev = spark.read.parquet(os.path.join(out_root, "events")).toPandas()
    parts = sorted(docs["dt"].astype(str).unique())
    # PSI exists for every cohort with a predecessor
    drift = ev[ev["event_type"] == "distribution_drift"]
    assert sorted(drift["partition"].unique()) == parts[1:]
    # every partition where a rule fired has a ValidationFailed analogue
    val = ev[ev["event_type"] == "validation_failed"]
    assert len(val) > 0 and val["metric_name"].str.startswith("rule_fire_rate:").all()
    assert set(ev["severity"]).issubset({"none", "low", "medium", "high"})
    lin = spark.read.parquet(os.path.join(out_root, "lineage")).toPandas()
    assert sorted(lin["partition"]) == parts
    assert int(lin["doc_count"].sum()) == len(docs)
    assert int(lin["kept_count"].sum()) == int(docs["keep"].sum())


def test_drift_psi_matches_numpy(pipeline_result, spark):
    """Every distribution_drift event's score and severity, recomputed in
    numpy from the docs table: fixed log10 half-decade perplexity
    buckets, each dt normalized by its own total and compared with the
    dt before it, missing or zero probabilities floored at 1e-4."""
    _, out_root, docs, _ = pipeline_result
    ppl = docs["perplexity"].astype(float).to_numpy()
    # fmax skips NaN like Spark's greatest() skips NULL: bucket 0
    bucket = np.clip(np.floor(np.log10(np.fmax(ppl, 1.0)) * 2), 0, 9).astype(int)
    dts = docs["dt"].astype(str).to_numpy()
    dist = {}
    for dt in sorted(set(dts)):
        counts = np.bincount(bucket[dts == dt], minlength=10)
        dist[dt] = {int(b): counts[b] / counts.sum() for b in np.flatnonzero(counts)}

    def floored(d, b):
        return d.get(b) or 1e-4

    expected = {}
    order = sorted(dist)
    for base, cur in zip(order, order[1:]):
        p, q = dist[cur], dist[base]
        psi = sum(
            (floored(p, b) - floored(q, b)) * np.log(floored(p, b) / floored(q, b))
            for b in sorted(set(p) | set(q))
        )
        severity = ("high" if psi > 0.5 else "medium" if psi > 0.3
                    else "low" if psi > 0.2 else "none")
        expected[cur] = (psi, severity)

    ev = spark.read.parquet(os.path.join(out_root, "events")).toPandas()
    drift = ev[ev["event_type"] == "distribution_drift"]
    got = {str(r.partition): (r.score, r.severity) for r in drift.itertuples()}
    assert sorted(got) == sorted(expected)
    for dt, (psi, severity) in expected.items():
        # Java Math.log and numpy log may differ by an ulp
        assert got[dt][0] == pytest.approx(psi, rel=1e-12, abs=0), dt
        assert got[dt][1] == severity, dt


def test_summary(pipeline_result):
    summary, _, docs, labels = pipeline_result
    assert summary["doc_count"] == len(labels)
    assert summary["kept_count"] == int(docs["keep"].sum())
    assert summary["partitions_skipped"] == 0
    # the fixture warehouse is far below auto's split gate (3·par·2 MB):
    # one byte-balanced rebalance, not one Python task per small file
    assert set(summary["skew_mode_used"].values()) == {"rebalance"}
    assert all("gate" in why for why in summary["skew_mode_reason"].values())


def test_event_taxonomy_bad_partition(spark, tmp_path_factory):
    """A crafted bad partition (10x row count, all-empty texts) plus a
    second run with an extra input column must surface all three
    non-drift event types: validation_failed, anomaly_detected,
    schema_change (reference events/events.py:31-349)."""
    from baselinr_spark.sources.pages import generate_pages_pandas

    root = tmp_path_factory.mktemp("evtwh")
    wh = os.path.join(str(root), "pages")
    out_root = os.path.join(str(root), "out")

    pdf = generate_pages_pandas(200, seed=7)
    bad_day = "2025-06-03"
    pdf["dt"] = pdf["warc_ts"].dt.date.astype(str)
    # the bad partition: 10x the docs, every text empty (fires the
    # word-count rule on 100% of rows and is a rowcount outlier)
    bad = pdf[pdf["dt"] == bad_day]
    import pandas as pd

    blow = pd.concat([bad] * 10, ignore_index=True)
    blow["url"] = [f"https://bad.example/{i}" for i in range(len(blow))]
    blow["text"] = ""
    pdf2 = pd.concat([pdf[pdf["dt"] != bad_day], blow], ignore_index=True)
    sdf = spark.createDataFrame(pdf2.drop(columns=["dt"]))
    sdf.withColumn("dt", F.to_date("warc_ts")).write.partitionBy("dt").parquet(wh)

    run_pipeline(spark, wh, out_root, run_id="evt-run-1")
    ev = spark.read.parquet(os.path.join(out_root, "events")).toPandas()
    types = set(ev["event_type"])
    assert "validation_failed" in types and "anomaly_detected" in types

    anom = ev[ev["event_type"] == "anomaly_detected"]
    assert list(anom["partition"].unique()) == [bad_day]
    assert (anom["severity"] == "high").all()

    val_bad = ev[(ev["event_type"] == "validation_failed")
                 & (ev["partition"] == bad_day)]
    assert (val_bad["current_value"] == 1.0).any()  # 100% fire rate
    assert (val_bad["severity"] == "high").any()

    # schema change: append a later run's snapshot with an added column
    # and two removed ones, then diff against run 1's snapshot
    from baselinr_spark.plans.events import schema_change_events

    schema_dir = os.path.join(out_root, "schema")
    cur = spark.createDataFrame(
        [("url", "string"), ("keep", "boolean"), ("quality", "double")],
        schema="column_name string, data_type string",
    )
    rows = [("evt-run-2", r["column_name"], r["data_type"]) for r in cur.collect()]
    snap = spark.createDataFrame(
        rows, schema="run_id string, column_name string, data_type string"
    ).withColumn("ts", F.current_timestamp())
    snap.write.mode("append").parquet(schema_dir)
    sch = schema_change_events(spark, schema_dir, "evt-run-2").toPandas()
    assert len(sch) > 0 and (sch["event_type"] == "schema_change").all()
    changed = {json.loads(m)["change_type"] for m in sch["metadata_json"]}
    assert "column_added" in changed and "column_removed" in changed


def test_alert_hooks_dispatch(spark, warehouse, out_root):
    from baselinr_spark.plans.hooks import (
        LoggingAlertHook, WebhookAlertHook, dispatch_events,
    )
    from baselinr_spark.plans.pipeline import run_pipeline

    log_hook = LoggingAlertHook()
    sent = []
    web_hook = WebhookAlertHook(
        "https://example.invalid/hook",
        sender=lambda url, body: sent.append((url, body)),
    )
    run_pipeline(spark, warehouse, out_root, run_id="hook-run",
                 hooks=[log_hook, web_hook], hook_min_severity="medium")

    assert log_hook.seen, "expected at least one medium+ event"
    assert all(e["severity"] in ("medium", "high") for e in log_hook.seen)
    assert len(sent) == len(log_hook.seen)
    assert all("example.invalid" in url for url, _ in sent)

    # min_severity filter: 'low' dispatches a superset
    import os
    ev = spark.read.parquet(os.path.join(out_root, "events"))
    low_hook = LoggingAlertHook()
    n_low = dispatch_events(ev, [low_hook], min_severity="low")
    assert n_low >= len(log_hook.seen)

    # unconfigured webhook fails loudly
    import pytest
    with pytest.raises(NotImplementedError):
        dispatch_events(ev, [WebhookAlertHook("u")], min_severity="low")
