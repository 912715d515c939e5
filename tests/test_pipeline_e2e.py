"""End-to-end: run the full pipeline over the synthetic warehouse and
compare every document against the pure-pandas reference labels
(keep/drop F1 ≥ 0.99 target from BASELINE.json; we assert exact parity
plus byte-identical scrubbed text)."""

import datetime as dt
import hashlib
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

    # every metric row, recomputed in pandas from the docs table
    got = {(r.partition, r.metric_name): (r.column_name, r.metric_value,
                                          r.metric_json)
           for r in pdf.itertuples()}
    assert len(got) == len(pdf)
    want = _expected_metrics(docs)
    assert sorted(got) == sorted(want)
    for key, (col, value, js) in want.items():
        g_col, g_value, g_js = got[key]
        assert g_col == col, key
        if value is None:
            assert g_value is None or np.isnan(g_value), key
        else:
            assert g_value == pytest.approx(value, rel=1e-12, abs=0), key
        if js is None:
            assert g_js is None, key
        else:
            # JSON text of doubles may differ by format; compare parsed
            got_bins = json.loads(g_js)
            assert [b["bin"] for b in got_bins] == [b["bin"] for b in js], key
            for gb, wb in zip(got_bins, js):
                assert gb["count"] == wb["count"], key
                assert gb["bin_start"] == pytest.approx(wb["bin_start"], rel=1e-12)
                assert gb["bin_end"] == pytest.approx(wb["bin_end"], rel=1e-12)


def _expected_metrics(docs) -> dict:
    """(partition, metric_name) → (column_name, metric_value, parsed
    metric_json) of each partition's metric rows, recomputed from the
    docs table: scalars, rule fire rates and lang fractions; percentiles
    as exact order statistics (percentile_approx is exact below its
    10000 accuracy: the value at rank ceil(q·n)); the fixed log10
    half-decade PSI buckets, a row only where the count is > 0; and the
    10-bin equi-width histogram over [min, max], one row only where some
    perplexity is non-NULL and max > min."""
    import math

    from baselinr_spark.functions.langid import CLASSES

    want = {}
    for p, g in docs.groupby(docs["dt"].astype(str)):
        n = len(g)
        keep = g["keep"].astype(bool)
        no_text = g["scrubbed_text"].isna()
        ppl = g["perplexity"].dropna().astype(float)

        def mean(xs):
            xs = [x for x in xs if x is not None]
            return float(np.mean(xs)) if xs else None

        doc = {
            "count": float(n),
            "kept_count": float(keep.sum()),
            "keep_rate": float(keep.mean()),
            "null_count": float(no_text.sum()),
            "null_ratio": float(no_text.mean()),
            "perplexity_mean": float(ppl.mean()) if len(ppl) else None,
        }
        for r in RULE_NAMES:
            doc[f"rule_fire_rate:{r}"] = mean(
                None if d is None else float(r in list(d))
                for d in g["drop_reasons"])
        for lang in CLASSES:
            doc[f"lang_frac:{lang}"] = mean(
                None if x is None else float(x == lang) for x in g["lang"])
        srt = sorted(ppl)
        for q, name in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"),
                        (0.95, "p95")):
            doc[f"perplexity_{name}"] = (
                srt[max(math.ceil(q * len(srt)), 1) - 1] if srt else None)
        for name, v in doc.items():
            want[(p, name)] = ("document", v, None)

        # NULL perplexity lands in bucket 0, as greatest() skips NULL
        x = g["perplexity"].astype(float).to_numpy()
        bucket = np.clip(np.floor(np.log10(np.fmax(x, 1.0)) * 2), 0, 9)
        for b in range(10):
            c = int((bucket == b).sum())
            if c > 0:
                want[(p, f"ppl_bucket:{b}")] = ("perplexity", float(c), None)

        if len(srt) and srt[-1] > srt[0]:
            lo, w = srt[0], (srt[-1] - srt[0]) / 10.0
            bins = {}
            for v in srt:
                b = min(math.floor((v - lo) / w), 9)
                bins[b] = bins.get(b, 0) + 1
            want[(p, "perplexity_histogram")] = ("perplexity", None, [
                {"bin": b, "bin_start": lo + b * w,
                 "bin_end": lo + (b + 1) * w, "count": c}
                for b, c in sorted(bins.items())])
    return want


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

    # every anomaly and validation value, recomputed in pandas from the
    # docs table
    docs = spark.read.parquet(os.path.join(out_root, "docs")).toPandas()
    docs["dt"] = docs["dt"].astype(str)
    n = docs.groupby("dt").size()

    def evt_id(ev_type, part, metric):
        key = f"evt-run-1|{ev_type}|{part}|{metric}"
        return "evt-" + hashlib.md5(key.encode()).hexdigest()

    # anomaly: leave-one-out control limits over the other dts' counts,
    # |n - mu| > 3 sd (k >= 4, sd > 0); high beyond 6 sd
    want_anom = {}
    for p, cnt in n.items():
        others = n.drop(p).astype(float)
        mu, sd = others.mean(), others.std(ddof=1)
        z = abs(cnt - mu) / sd
        if sd > 0 and z > 3:
            want_anom[p] = (mu, float(cnt), z, "high" if z > 6 else "medium")
    got_anom = {r.partition: r for r in anom.itertuples()}
    assert sorted(got_anom) == sorted(want_anom) == [bad_day]
    for p, (mu, cnt, z, sev) in want_anom.items():
        r = got_anom[p]
        assert r.event_id == evt_id("anomaly_detected", p, "count")
        assert r.metric_name == "count" and r.severity == sev
        assert r.baseline_value == pytest.approx(mu, rel=1e-12)
        assert r.current_value == cnt
        assert r.score == pytest.approx(z, rel=1e-12)
        meta = json.loads(r.metadata_json)
        assert meta == {
            "detection_method": "control_limits", "anomaly_type": "rowcount",
            "expected_value": pytest.approx(mu, rel=1e-12), "actual_value": cnt,
        }

    # validation: one event per (dt, rule) with a non-zero fire rate;
    # low, medium from 0.2, high from 0.5; failures rounded half-up
    want_val = {}
    for p, grp in docs.groupby("dt"):
        for rule in RULE_NAMES:
            rate = float(np.mean([rule in list(d) for d in grp["drop_reasons"]]))
            if rate > 0:
                sev = "high" if rate >= 0.5 else "medium" if rate >= 0.2 else "low"
                want_val[(p, f"rule_fire_rate:{rule}")] = (
                    rule, rate, sev, len(grp), int(rate * len(grp) + 0.5))
    val = ev[ev["event_type"] == "validation_failed"]
    got_val = {(r.partition, r.metric_name): r for r in val.itertuples()}
    assert sorted(got_val) == sorted(want_val)
    for (p, metric), (rule, rate, sev, total, fails) in want_val.items():
        r = got_val[(p, metric)]
        assert r.event_id == evt_id("validation_failed", p, metric)
        assert r.baseline_value == 0.0 and r.severity == sev
        assert r.current_value == r.score == pytest.approx(rate, rel=1e-12)
        meta = json.loads(r.metadata_json)
        assert meta == {
            "rule_type": rule, "total_rows": float(total),
            "total_failures": float(fails),
            "failure_rate": pytest.approx(rate * 100.0, rel=1e-12),
        }

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
    sch = pd.DataFrame(schema_change_events(schema_dir, "evt-run-2"))
    assert len(sch) > 0 and (sch["event_type"] == "schema_change").all()
    changed = {json.loads(m)["change_type"] for m in sch["metadata_json"]}
    assert "column_added" in changed and "column_removed" in changed


def test_alert_hooks_dispatch(spark, warehouse, out_root):
    from pyspark.sql.types import TimestampType

    from baselinr_spark.plans.hooks import (
        LoggingAlertHook, WebhookAlertHook, dispatch_events,
    )

    log_hook = LoggingAlertHook()
    sent = []
    web_hook = WebhookAlertHook(
        "https://example.invalid/hook",
        sender=lambda url, body: sent.append((url, body)),
    )
    run_pipeline(spark, warehouse, out_root, run_id="hook-run",
                 hooks=[log_hook, web_hook], hook_min_severity="medium")

    # the hooks saw exactly the medium-and-above rows of the written table
    ev = spark.read.parquet(os.path.join(out_root, "events"))
    written = ev.filter(F.col("severity").isin("medium", "high")).select(
        "event_id", F.unix_micros("ts").alias("ts_us")).collect()
    assert log_hook.seen, "expected at least one medium+ event"
    assert sorted(e["event_id"] for e in log_hook.seen) == sorted(
        r["event_id"] for r in written)
    assert len(sent) == len(log_hook.seen)
    assert all("example.invalid" in url for url, _ in sent)

    # one driver-side UTC instant per chunk: the table stores it as a
    # (UTC-adjusted) timestamp, not timestamp_ntz, holding the instant
    # the hooks saw
    assert ev.schema["ts"].dataType == TimestampType()
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    seen_us = {(e["ts"] - epoch) // dt.timedelta(microseconds=1)
               for e in log_hook.seen}
    assert len(seen_us) == 1
    assert {r["ts_us"] for r in written} == seen_us

    # min_severity filter: 'low' dispatches a superset
    rows = [r.asDict() for r in ev.collect()]
    low_hook = LoggingAlertHook()
    n_low = dispatch_events(rows, [low_hook], min_severity="low")
    assert n_low >= len(log_hook.seen)

    # unconfigured webhook fails loudly
    with pytest.raises(NotImplementedError):
        dispatch_events(rows, [WebhookAlertHook("u")], min_severity="low")


def test_multi_chunk_drift_matches_single_chunk(spark, warehouse,
                                                 pipeline_result, tmp_path):
    """Chunked runs (checkpoint_every=3) must find each chunk's first
    cohort's predecessor in the previous chunk's stored metrics: the
    drift events equal a single-chunk run's over the same warehouse."""
    _, single_root, _, _ = pipeline_result
    out = str(tmp_path / "chunked")
    summary = run_pipeline(spark, warehouse, out, run_id="run-chunked",
                           checkpoint_every=3)
    assert len(summary["partitions_processed"]) > 3

    def drift(root):
        ev = spark.read.parquet(os.path.join(root, "events"))
        return sorted(
            (r["partition"], r["score"], r["severity"])
            for r in ev.filter(F.col("event_type") == "distribution_drift")
            .collect()
        )

    want = drift(single_root)
    assert len(want) == len(summary["partitions_processed"]) - 1
    assert drift(out) == want


def test_corrupt_metrics_file_raises(spark, warehouse, tmp_path):
    """An unreadable metric file must fail the run before any event is
    written, never read as "no events"."""
    import pyarrow as pa

    out = str(tmp_path / "out")
    bad = os.path.join(out, "metrics", "partition_key=2000-01-01")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        run_pipeline(spark, warehouse, out, run_id="corrupt", max_partitions=1)
    assert not os.path.exists(os.path.join(out, "events"))
    assert not os.path.exists(os.path.join(out, "processed_partitions"))


def test_event_nulls_without_arrow(spark, warehouse, tmp_path):
    """A session without Arrow (plain spark-submit) writes NULL, never
    NaN, where an event type has no value, even beside other types'
    doubles in the same column: drift rows carry no baseline/current
    value and schema_change rows no score."""
    from baselinr_spark.plans.events import write_schema_snapshot

    out = str(tmp_path / "out")
    # an earlier run's snapshot with another schema, so this run's first
    # chunk emits schema_change events
    write_schema_snapshot(spark.createDataFrame([(1,)], "legacy long"),
                          os.path.join(out, "schema"), "run-0")
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        run_pipeline(spark, warehouse, out, run_id="no-arrow", max_partitions=2)
    finally:
        spark.conf.set(key, old)

    ev = spark.read.parquet(os.path.join(out, "events"))
    assert ev.filter("isnan(baseline_value) or isnan(current_value)"
                     " or isnan(score)").count() == 0
    rows = ev.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert {"distribution_drift", "schema_change",
            "validation_failed"} <= set(by_type)
    for r in by_type["distribution_drift"]:
        assert r["baseline_value"] is None and r["current_value"] is None
        assert r["score"] is not None
    for r in by_type["schema_change"]:
        assert r["score"] is None
    for r in by_type["validation_failed"]:
        assert r["baseline_value"] == 0.0

    # the other metadata tables: scalar rows carry no JSON, histogram
    # rows no value, and a full chunk's manifest rows no sample fraction
    m = spark.read.parquet(os.path.join(out, "metrics"))
    assert m.count() > 0
    assert m.filter("isnan(metric_value)").count() == 0
    hist = m.filter("metric_name = 'perplexity_histogram'")
    assert hist.count() > 0
    assert hist.filter("metric_value is not null").count() == 0
    assert hist.filter("metric_json is null").count() == 0
    assert m.filter("metric_name != 'perplexity_histogram'"
                    " and metric_json is not null").count() == 0
    from baselinr_spark.sources import manifest

    man = spark.read.parquet(manifest.manifest_path(out))
    assert man.count() == 2
    assert man.filter("sample_fraction is not null").count() == 0
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.filter("ts is null").count() == 0


def test_emptied_partition_keeps_no_stale_outputs(spark, warehouse, tmp_path):
    """A reprocessed dt whose input became one empty parquet file ends
    with no docs, metric or event rows and doc_count 0 in the summary,
    lineage and manifest; the other dts are untouched."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from baselinr_spark.sources import manifest

    wh = str(tmp_path / "pages")
    shutil.copytree(warehouse, wh)
    out = str(tmp_path / "out")
    run_pipeline(spark, wh, out, run_id="full")
    day = "2025-06-03"
    before = spark.read.parquet(os.path.join(out, "docs"))
    assert before.filter(F.col("dt") == day).count() > 0
    n_other = before.filter(F.col("dt") != day).count()

    day_dir = os.path.join(wh, f"dt={day}")
    schema = pq.read_schema(next(
        os.path.join(day_dir, f) for f in sorted(os.listdir(day_dir))
        if f.endswith(".parquet")))
    shutil.rmtree(day_dir)
    os.makedirs(day_dir)
    pq.write_table(schema.empty_table(), os.path.join(day_dir, "part-0.parquet"))

    summary = run_pipeline(spark, wh, out, run_id="emptied",
                           reprocess_changed=True)
    assert summary["partitions_processed"] == [day]
    assert summary["doc_count"] == 0 and summary["kept_count"] == 0

    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert docs.filter(F.col("dt") == day).count() == 0
    assert docs.filter(F.col("dt") != day).count() == n_other
    for table in ("metrics", "events"):
        t = spark.read.parquet(os.path.join(out, table))
        assert t.filter(F.col("partition") == day).count() == 0, table
    lin = spark.read.parquet(os.path.join(out, "lineage")).filter(
        F.col("partition") == day).collect()
    assert [(r["run_id"], r["doc_count"], r["kept_count"]) for r in lin] == [
        ("emptied", 0, 0)]
    state = [r for r in manifest.latest_rows(out) if r["partition"] == day]
    assert [(r["run_id"], r["doc_count"], r["kept_count"]) for r in state] == [
        ("emptied", 0, 0)]


def test_failed_docs_write_keeps_the_dt_outputs(spark, warehouse, tmp_path,
                                               monkeypatch):
    """A --reprocess-changed rerun whose docs write fails inside its
    Spark job leaves the changed dt's docs, metrics, events and lineage
    files byte-identical and the manifest as it was; the next rerun
    ends as the same rerun does without the failure."""
    import shutil

    import pyarrow.dataset as ds

    from baselinr_spark.plans import pipeline
    from baselinr_spark.sources import manifest

    wh = str(tmp_path / "pages")
    shutil.copytree(warehouse, wh)
    out, ref = str(tmp_path / "out"), str(tmp_path / "ref")
    run_pipeline(spark, wh, out, run_id="full")
    shutil.copytree(out, ref)
    day = "2025-06-03"
    day_dir = os.path.join(wh, f"dt={day}")
    os.remove(os.path.join(day_dir, sorted(
        f for f in os.listdir(day_dir) if f.endswith(".parquet"))[0]))

    def day_files():
        dirs = [os.path.join(out, "docs", f"dt={day}")] + [
            os.path.join(out, t, f"partition_key={day}")
            for t in ("metrics", "events", "lineage")]
        return {os.path.join(d, f): open(os.path.join(d, f), "rb").read()
                for d in dirs for f in os.listdir(d)}

    before, state = day_files(), manifest.latest_rows(out)
    transform = pipeline.transform_pages

    def failing_transform(*args, **kwargs):
        docs = transform(*args, **kwargs)
        return docs.withColumn("keep", F.when(
            F.col("dt").cast("string") == day,
            F.raise_error(F.lit("injected docs-write failure"))
        ).otherwise(F.col("keep")))

    monkeypatch.setattr(pipeline, "transform_pages", failing_transform)
    with pytest.raises(Exception, match="injected docs-write failure"):
        run_pipeline(spark, wh, out, run_id="failed", reprocess_changed=True)
    monkeypatch.undo()
    assert day_files() == before
    assert manifest.latest_rows(out) == state

    for root in (out, ref):
        summary = run_pipeline(spark, wh, root, run_id="redo",
                               reprocess_changed=True)
        assert summary["partitions_processed"] == [day]

    def table(root, name, drop):
        t = ds.dataset(os.path.join(root, name), format="parquet",
                       partitioning="hive").to_table().drop_columns(list(drop))
        # ref's lineage rows of the dts the rerun kept name out's docs
        return sorted(json.dumps(r, sort_keys=True, default=str)
                      .replace(out, "").replace(ref, "") for r in t.to_pylist())

    for name, drop in (("docs", ()), ("metrics", ("profiled_at",)),
                       ("events", ("ts",)), ("lineage", ("ts",))):
        assert table(out, name, drop) == table(ref, name, drop), name
    assert [dict(r, completed_at=None) for r in manifest.latest_rows(out)] == [
        dict(r, completed_at=None) for r in manifest.latest_rows(ref)]


def test_small_chunk_udf_stage_on_every_core(spark, tmp_path, monkeypatch):
    """A 10-dt, 2k-doc chunk is far under par advisory partitions: its
    fused-UDF stage runs as at least min(par, 4) tasks instead of one,
    and the docs write still leaves one file per dt."""
    from baselinr_spark.plans.pipeline import chunk_conf
    from baselinr_spark.plans.planner import plan_partitions
    from baselinr_spark.sources import catalog
    from baselinr_spark.sources.pages import write_pages_warehouse

    wh, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_warehouse(spark, wh, n_docs=2000, seed=901)
    parts = catalog.list_partitions(wh)
    assert len(parts) == 10
    sc = spark.sparkContext
    par = sc.defaultParallelism
    nbytes = sum(r["estimated_bytes"] for r in plan_partitions(wh, out))
    assert "spark.sql.adaptive.coalescePartitions.minPartitionSize" in \
        chunk_conf(nbytes, par, "rebalance")

    write = catalog.write_partitioned

    def grouped_write(df, path, *args):
        sc.setJobGroup("docs-write", "the chunk's docs write")
        try:
            write(df, path, *args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(catalog, "write_partitioned", grouped_write)
    summary = run_pipeline(spark, wh, out, run_id="udf-width")
    assert summary["skew_mode_used"] == {",".join(parts): "rebalance"}
    st = sc.statusTracker()
    jobs = sorted(st.getJobIdsForGroup("docs-write"))
    assert jobs
    # the write's last job ends in the post-shuffle stage: the UDF stage
    udf_stage = max(st.getJobInfo(jobs[-1]).stageIds)
    assert st.getStageInfo(udf_stage).numTasks >= min(par, 4)
    for p in parts:
        files = [f for f in os.listdir(os.path.join(out, "docs", f"dt={p}"))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (p, files)


def _jobs_after_docs_writes(spark, monkeypatch, wh, out, **kw):
    """Run the pipeline; return its summary and, per chunk, the number
    of Spark jobs from the end of the chunk's docs write to the next
    chunk's start (or the run's end), counted under a job group set
    when the docs write returns."""
    import uuid

    from baselinr_spark.plans import pipeline
    from baselinr_spark.sources import catalog

    sc = spark.sparkContext
    tag, groups = uuid.uuid4().hex, []
    write, conf = catalog.write_partitioned, pipeline.chunk_conf

    def after_write(df, path, *args):
        write(df, path, *args)
        groups.append(f"after-docs-{tag}-{len(groups)}")
        sc.setJobGroup(groups[-1], "after the chunk's docs write")

    def chunk_start(*args):
        sc.setLocalProperty("spark.jobGroup.id", None)
        return conf(*args)

    monkeypatch.setattr(catalog, "write_partitioned", after_write)
    monkeypatch.setattr(pipeline, "chunk_conf", chunk_start)
    try:
        summary = run_pipeline(spark, wh, out, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return summary, [len(st.getJobIdsForGroup(g)) for g in groups]


def test_one_spark_job_after_each_docs_write(spark, warehouse, tmp_path,
                                             monkeypatch):
    """A checkpoint_every=3 run makes exactly one Spark job after each
    chunk's docs write, the metrics aggregation: every metadata sink is
    written on the driver, and the read-back lists only the chunk's
    dirs, however many dts the docs table already holds (past 32 dirs
    Spark would list them with a job)."""
    out = str(tmp_path / "out")
    for i in range(40):
        day = dt.date(2020, 1, 1) + dt.timedelta(days=i)
        os.makedirs(os.path.join(out, "docs", f"dt={day}"))
    summary, jobs = _jobs_after_docs_writes(
        spark, monkeypatch, warehouse, out, run_id="one-job",
        checkpoint_every=3)
    n_chunks = -(-len(summary["partitions_processed"]) // 3)
    assert len(jobs) == n_chunks > 1
    assert jobs == [1] * n_chunks


def test_one_listing_per_input_partition(spark, warehouse, tmp_path,
                                         monkeypatch):
    """A checkpoint_every=3 run walks each input partition's files once,
    in the planner: every chunk takes its bytes, skew mode and manifest
    fingerprints from the plan rows."""
    from collections import Counter

    from baselinr_spark.sources import catalog

    dirs = [os.path.join(warehouse, f"dt={p}")
            for p in catalog.list_partitions(warehouse)]
    listed, walked = Counter(), Counter()
    list_data_files, walk = catalog.list_data_files, os.walk

    def counted_listing(ds):
        listed.update(ds)
        return list_data_files(ds)

    def counted_walk(top, *args, **kw):
        walked[os.fspath(top)] += 1
        return walk(top, *args, **kw)

    monkeypatch.setattr(catalog, "list_data_files", counted_listing)
    monkeypatch.setattr(os, "walk", counted_walk)
    summary = run_pipeline(spark, warehouse, str(tmp_path / "out"),
                           run_id="one-walk", checkpoint_every=3)
    monkeypatch.undo()
    assert len(summary["skew_mode_used"]) == -(-len(dirs) // 3) > 1
    assert listed == Counter(dirs)
    assert {d: walked[d] for d in dirs} == dict.fromkeys(dirs, 1)


def test_one_spark_job_after_a_wide_chunk_write(spark, warehouse, tmp_path,
                                                monkeypatch):
    """A single chunk of more than 32 dts also makes one Spark job after
    its docs write: its dirs are listed on the driver."""
    import shutil

    from baselinr_spark.sources import catalog

    wh = str(tmp_path / "pages")
    src = catalog.list_partitions(warehouse)
    for i in range(36):
        # one input file per dt, each copied under 3-4 dates
        d = os.path.join(warehouse, f"dt={src[i % len(src)]}")
        f = sorted(x for x in os.listdir(d) if x.endswith(".parquet"))[0]
        day = dt.date(2023, 1, 1) + dt.timedelta(days=i)
        os.makedirs(os.path.join(wh, f"dt={day}"))
        shutil.copy(os.path.join(d, f), os.path.join(wh, f"dt={day}", f))
    summary, jobs = _jobs_after_docs_writes(
        spark, monkeypatch, wh, str(tmp_path / "out"), run_id="wide")
    assert len(summary["partitions_processed"]) == 36
    assert jobs == [1]


def test_histogram_bounds_are_checked(spark, pipeline_result):
    """partition_metrics bins the histogram by the bounds it is given
    only where they equal its own perplexity min/max, so footer, missing
    and stale bounds give the same rows; only the footer bounds do it in
    one Spark job (AQE off, as run_pipeline runs it)."""
    import uuid

    from baselinr_spark.plans.pipeline import (
        DOCS_READ_DDL,
        _session_conf,
        partition_metrics,
    )
    from baselinr_spark.sources import catalog

    _, out_root, docs, _ = pipeline_result
    docs_dir = os.path.join(out_root, "docs")
    parts = sorted(docs["dt"].astype(str).unique())
    back = spark.read.schema(DOCS_READ_DDL).parquet(docs_dir).select(
        "dt", "keep", "drop_reasons", "lang", "perplexity",
        F.col("scrubbed_text").isNotNull().alias("__has_text"))
    footer = catalog.column_bounds(docs_dir, "perplexity", parts)
    assert sorted(footer) == parts
    stale = dict(footer, **{parts[0]: (footer[parts[0]][0] - 1.0,
                                       footer[parts[0]][1])})
    sc = spark.sparkContext
    got = []
    for bounds in (footer, {}, stale):
        group = f"bounds-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "partition_metrics")
        try:
            with _session_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
                rows = partition_metrics(back, "r", bounds)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        got.append((jobs, sorted(
            (r["partition"], r["metric_name"], r["column_name"],
             r["metric_value"], r["metric_json"]) for r in rows)))
    assert [j for j, _ in got] == [1, 2, 2]
    assert got[0][1] == got[1][1] == got[2][1]
    assert sum(r[1] == "perplexity_histogram" for r in got[0][1]) == len(parts)
