"""Warehouse metadata reads and the partitioned write.

Footer reads fall back to the bytes/1KB row estimate on an unreadable
file and say so in the log; the dynamic-overwrite write leaves the
session's overwrite mode alone."""

import logging
import os

import pyarrow as pa
import pyarrow.parquet as pq

from baselinr_spark.plans.planner import partition_stats
from baselinr_spark.sources import catalog

GARBAGE = b"not a parquet file" * 200


def _good_and_garbage(d):
    """One readable 100-row file and one garbage part-*.parquet in `d`;
    returns (good rows, garbage bytes, garbage path)."""
    os.makedirs(d)
    pq.write_table(pa.table({"x": list(range(100))}),
                   os.path.join(d, "part-00000.parquet"))
    bad = os.path.join(d, "part-00001.parquet")
    with open(bad, "wb") as f:
        f.write(GARBAGE)
    return 100, len(GARBAGE), bad


def test_partition_stats_unreadable_footer_logged(tmp_path, caplog):
    root = str(tmp_path)
    rows, bad_bytes, bad = _good_and_garbage(
        os.path.join(root, "dt=2025-06-01"))
    with caplog.at_level(logging.WARNING):
        [(p, nbytes, nrows)] = partition_stats(root, ["2025-06-01"])
    assert p == "2025-06-01"
    assert nrows == rows + bad_bytes // 1024
    assert nbytes == sum(e.stat().st_size for e in os.scandir(
        os.path.join(root, "dt=2025-06-01")))
    assert bad in caplog.text


def test_collect_table_metadata_unreadable_footer_logged(spark, tmp_path,
                                                         caplog):
    d = os.path.join(str(tmp_path), "t")
    rows, bad_bytes, bad = _good_and_garbage(d)
    with caplog.at_level(logging.WARNING):
        [r] = catalog.collect_table_metadata(spark, {"t": d}).collect()
    assert r["row_count"] == rows + bad_bytes // 1024
    assert bad in caplog.text


def test_write_partitioned_keeps_session_overwrite_mode(spark, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    path = str(tmp_path / "t")
    spark.conf.set(key, "static")
    try:
        catalog.write_partitioned(
            spark.createDataFrame([(1, "a"), (2, "b")], "v int, dt string"),
            path)
        # dynamic for this write: dt=b is replaced, dt=a is kept
        catalog.write_partitioned(
            spark.createDataFrame([(3, "b")], "v int, dt string"), path)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prior)
    got = sorted((r["v"], r["dt"]) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (3, "b")]


def test_manifest_instants_in_non_utc_session(spark, tmp_path):
    """completed_at holds the committed instant whatever the session's
    time zone: a naive-UTC and a tz-aware UTC value both read back as
    that instant under America/New_York."""
    import datetime as dt

    from pyspark.sql import functions as F

    from baselinr_spark.sources import manifest

    now = dt.datetime.now(dt.timezone.utc).replace(microsecond=0)
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        for part, ts in (("2025-06-01", now.replace(tzinfo=None)),
                         ("2025-06-02", now)):
            manifest.commit_partitions(spark, str(tmp_path), "run-tz", [
                {"partition": part, "completed_at": ts}])
        got = spark.read.parquet(manifest.manifest_path(str(tmp_path))).select(
            "partition", F.unix_micros("completed_at").alias("us")).collect()
    finally:
        spark.conf.set(key, old)
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    # the driver-side reader's schema is the one Spark maps the DDL to
    assert manifest.arrow_schema() == to_arrow_schema(
        StructType.fromDDL(manifest.MANIFEST_DDL))
    assert [r["completed_at"] for r in manifest.latest_rows(str(tmp_path))] \
        == [now, now]
    want_us = int(now.timestamp()) * 1_000_000
    assert sorted(r["partition"] for r in got) == ["2025-06-01", "2025-06-02"]
    for r in got:
        assert abs(r["us"] - want_us) <= 1_000_000, r
