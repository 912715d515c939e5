"""The per-chunk drift pass must scan only the chunk cohorts plus each
one's immediate predecessor — not the whole metric history."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from baselinr_spark.plans.pipeline import _needed_metric_partitions


def _write_metrics(spark, path, dts):
    rows = []
    for dt in dts:
        rows.append(Row(partition=dt, metric_name="count",
                        metric_value=100.0, partition_key=dt))
        for b in range(3):
            rows.append(Row(partition=dt, metric_name=f"ppl_bucket:{b}",
                            metric_value=float(b), partition_key=dt))
    spark.createDataFrame(rows).write.mode("overwrite").partitionBy(
        "partition_key"
    ).parquet(path)


DTS = ["2025-06-01", "2025-06-02", "2025-06-03", "2025-06-04", "2025-06-05"]


def test_needed_partitions_chunk_plus_predecessor(spark, tmp_path):
    mdir = str(tmp_path / "metrics")
    _write_metrics(spark, mdir, DTS)
    # chunk = the two newest cohorts; 06-03 is 06-04's predecessor and
    # 06-04 is 06-05's — nothing older is needed
    assert _needed_metric_partitions(mdir, ["2025-06-04", "2025-06-05"]) == [
        "2025-06-03", "2025-06-04", "2025-06-05",
    ]
    # earliest cohort has no predecessor
    assert _needed_metric_partitions(mdir, ["2025-06-01"]) == ["2025-06-01"]
    # missing dir: fall back to the chunk itself
    assert _needed_metric_partitions(str(tmp_path / "nope"), ["x"]) == ["x"]


def test_unlistable_metrics_dir_raises(tmp_path):
    """Only a missing dir means "no predecessors"; any other listing
    error must surface, or the chunk's PSI events vanish silently."""
    not_a_dir = tmp_path / "metrics"
    not_a_dir.write_text("")
    with pytest.raises(NotADirectoryError):
        _needed_metric_partitions(str(not_a_dir), ["x"])


def test_pruned_scan_reads_only_needed_partition_files(spark, tmp_path):
    """Physical-plan-level check: partition pruning means the pruned
    reader's input files all live under needed partition_key dirs."""
    mdir = str(tmp_path / "metrics")
    _write_metrics(spark, mdir, DTS)
    needed = _needed_metric_partitions(mdir, ["2025-06-05"])
    assert needed == ["2025-06-04", "2025-06-05"]
    pruned = spark.read.parquet(mdir).filter(
        F.col("partition_key").isin(needed)
    )
    # the isin lands in the scan's PartitionFilters (planning-time dir
    # pruning), not DataFilters (per-row evaluation over every file)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "partition_key" in pf and "2025-06-04" in pf and "2025-06-05" in pf
    assert "DataFilters: []" in plan
    # row-level sanity: exactly the two cohorts' rows survive
    assert sorted(
        r["partition"] for r in pruned.select("partition").distinct().collect()
    ) == ["2025-06-04", "2025-06-05"]
