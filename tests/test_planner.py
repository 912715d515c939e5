"""Incremental planner: freshness-interval skip + cost-cap fallback
(reference /root/reference/baselinr/incremental/planner.py:141-295)."""

import datetime as dt
import os

from baselinr_spark.plans.pipeline import run_pipeline
from baselinr_spark.plans.planner import (
    AdaptiveScheduling,
    CostControls,
    partition_stats,
    plan_partitions,
)
from baselinr_spark.sources import catalog


def _plan_dict(plan):
    return {r["partition"]: r for r in plan}


def test_never_profiled_runs(spark, warehouse, out_root):
    d = _plan_dict(plan_partitions(warehouse, out_root))
    assert d and all(
        r["action"] == "run" and r["reason"] == "never_profiled"
        for r in d.values()
    )
    # metadata estimates are populated from file stats + parquet footers
    assert all(r["estimated_bytes"] > 0 and r["estimated_rows"] > 0
               for r in d.values())


def test_freshness_and_snapshot_cascade(spark, warehouse, out_root):
    run_pipeline(spark, warehouse, out_root, run_id="base")
    parts = catalog.list_partitions(warehouse)
    now = dt.datetime.now(dt.timezone.utc)

    # fresh within interval → skipped BEFORE change detection
    sched = AdaptiveScheduling(enabled=True, default_interval_minutes=60,
                               min_interval_minutes=0)
    d = _plan_dict(plan_partitions(warehouse, out_root, now=now,
                                   scheduling=sched))
    assert all(r["reason"] == "fresh_within_interval" for r in d.values())

    # past due + unchanged input → snapshot_match skip
    later = now + dt.timedelta(minutes=120)
    d = _plan_dict(plan_partitions(warehouse, out_root, now=later,
                                   scheduling=sched, reprocess_changed=True))
    assert all(r["action"] == "skip" and r["reason"] == "snapshot_match"
               for r in d.values())

    # past due + changed input → change_detected rerun
    victim = parts[0]
    fpath = next(
        os.path.join(r, f)
        for r, _, fs in os.walk(os.path.join(warehouse, f"dt={victim}"))
        for f in fs if f.endswith(".parquet")
    )
    os.utime(fpath)  # mtime bump = fingerprint change
    d = _plan_dict(plan_partitions(warehouse, out_root, now=later,
                                   scheduling=sched, reprocess_changed=True))
    assert d[victim]["action"] == "run"
    assert d[victim]["reason"] == "change_detected"
    assert all(r["action"] == "skip" for p, r in d.items() if p != victim)

    # priority override: victim's interval stretched past 'later' → fresh
    sched2 = AdaptiveScheduling(
        enabled=True, default_interval_minutes=60, min_interval_minutes=0,
        max_interval_minutes=10**6, priority_overrides={victim: 10**5},
    )
    d = _plan_dict(plan_partitions(warehouse, out_root, now=later,
                                   scheduling=sched2, reprocess_changed=True))
    assert d[victim]["reason"] == "fresh_within_interval"


def test_cost_cap_fallbacks(spark, warehouse, out_root):
    parts = catalog.list_partitions(warehouse)
    stats = {s["partition"]: (s["estimated_bytes"], s["estimated_rows"])
             for s in partition_stats(warehouse, parts)}
    # threshold splitting the partitions: some capped, some not
    sizes = sorted(b for b, _ in stats.values())
    cap = sizes[len(sizes) // 2]
    big = {p for p, (b, _) in stats.items() if b > cap}
    assert big and len(big) < len(parts)

    for strategy, action in [("sample", "sample"), ("defer", "defer"),
                             ("full", "run")]:
        cc = CostControls(enabled=True, max_bytes_scanned=cap,
                          fallback_strategy=strategy, sample_fraction=0.25)
        d = _plan_dict(plan_partitions(warehouse, out_root, cost=cc))
        for p in parts:
            if p in big:
                assert d[p]["action"] == action
                assert d[p]["reason"] == "bytes_cap_exceeded"
            else:
                assert d[p]["action"] == "run"
                assert d[p]["reason"] == "never_profiled"
        if strategy == "sample":
            assert all(d[p]["sample_fraction"] == 0.25 for p in big)

    # rows cap: cap below every partition's rows → all capped
    cc = CostControls(enabled=True, max_rows_scanned=1,
                      fallback_strategy="defer")
    d = _plan_dict(plan_partitions(warehouse, out_root, cost=cc))
    assert all(r["action"] == "defer" and r["reason"] == "rows_cap_exceeded"
               for r in d.values())


def test_pipeline_sample_downgrade_and_defer(spark, warehouse, out_root,
                                             tmp_path_factory):
    parts = catalog.list_partitions(warehouse)
    stats = {s["partition"]: (s["estimated_bytes"], s["estimated_rows"])
             for s in partition_stats(warehouse, parts)}
    sizes = sorted(b for b, _ in stats.values())
    cap = sizes[len(sizes) // 2]
    big = {p for p, (b, _) in stats.items() if b > cap}

    # sample fallback: capped partitions are processed on a hash sample
    cc = CostControls(enabled=True, max_bytes_scanned=cap,
                      fallback_strategy="sample", sample_fraction=0.3)
    s = run_pipeline(spark, warehouse, out_root, run_id="r-sample", cost=cc)
    assert set(s["partitions_sampled"]) == big
    assert sorted(s["partitions_processed"]) == sorted(parts)

    full_root = str(tmp_path_factory.mktemp("full"))
    f = run_pipeline(spark, warehouse, full_root, run_id="r-full")
    assert s["doc_count"] < f["doc_count"]  # sampled cohorts shrank

    # per-partition: un-capped partitions match the full run exactly
    import pyspark.sql.functions as F

    def counts(root):
        df = spark.read.parquet(os.path.join(root, "docs"))
        return {r["dt"]: r["n"] for r in df.groupBy(
            F.col("dt").cast("string").alias("dt")).agg(
            F.count("*").alias("n")).collect()}

    cs, cf = counts(out_root), counts(full_root)
    for p in parts:
        if p in big:
            assert cs[p] < cf[p]
        else:
            assert cs[p] == cf[p]

    # defer fallback: capped partitions never written, reported as deferred
    defer_root = str(tmp_path_factory.mktemp("defer"))
    cc = CostControls(enabled=True, max_bytes_scanned=cap,
                      fallback_strategy="defer")
    s = run_pipeline(spark, warehouse, defer_root, run_id="r-defer", cost=cc)
    assert set(s["partitions_deferred"]) == big
    assert set(s["partitions_processed"]) == set(parts) - big
    assert set(counts(defer_root)) == set(parts) - big


def test_sampled_partitions_promote_to_full(spark, warehouse, out_root):
    """A cost-cap sampled partition is committed as status='sampled'
    (with the fraction), keeps skipping only while the same cap+fraction
    applies, and is promoted to a full run once caps are lifted."""
    import pyspark.sql.functions as F

    from baselinr_spark.sources import manifest as mf

    parts = catalog.list_partitions(warehouse)
    stats = {s["partition"]: (s["estimated_bytes"], s["estimated_rows"])
             for s in partition_stats(warehouse, parts)}
    sizes = sorted(b for b, _ in stats.values())
    cap = sizes[len(sizes) // 2]
    big = {p for p, (b, _) in stats.items() if b > cap}

    cc = CostControls(enabled=True, max_bytes_scanned=cap,
                      fallback_strategy="sample", sample_fraction=0.3)
    run_pipeline(spark, warehouse, out_root, run_id="r1", cost=cc)

    state = {r["partition"]: r for r in mf.latest_rows(out_root)}
    for p in parts:
        if p in big:
            assert state[p]["status"] == "sampled"
            assert state[p]["sample_fraction"] == 0.3
        else:
            assert state[p]["status"] == "done"
            assert state[p]["sample_fraction"] is None

    # same cap + fraction → sampled partitions skip (identical cohort)
    d = _plan_dict(plan_partitions(warehouse, out_root, cost=cc))
    for p in parts:
        expect = "sampled_cap_unchanged" if p in big else "snapshot_match"
        assert d[p]["action"] == "skip" and d[p]["reason"] == expect

    # different fraction → re-sample; caps lifted → promote to full
    cc2 = CostControls(enabled=True, max_bytes_scanned=cap,
                       fallback_strategy="sample", sample_fraction=0.6)
    d = _plan_dict(plan_partitions(warehouse, out_root, cost=cc2))
    assert all(d[p]["action"] == "sample" for p in big)
    d = _plan_dict(plan_partitions(warehouse, out_root))
    for p in parts:
        if p in big:
            assert d[p]["action"] == "run"
            assert d[p]["reason"] == "promote_sampled_to_full"
        else:
            assert d[p]["action"] == "skip"

    # uncapped run promotes: full doc counts land, manifest says done
    s2 = run_pipeline(spark, warehouse, out_root, run_id="r2")
    assert sorted(s2["partitions_processed"]) == sorted(big)
    state = {r["partition"]: r for r in mf.latest_rows(out_root)}
    assert all(state[p]["status"] == "done" for p in parts)
    docs = spark.read.parquet(os.path.join(out_root, "docs"))
    per = {r["dt"]: r["n"] for r in docs.groupBy(
        F.col("dt").cast("string").alias("dt")).agg(
        F.count("*").alias("n")).collect()}
    pages = spark.read.parquet(warehouse)
    full = {r["dt"]: r["n"] for r in pages.groupBy(
        F.col("dt").cast("string").alias("dt")).agg(
        F.count("*").alias("n")).collect()}
    assert per == full
