"""Warehouse metadata reads and the partitioned write.

Footer reads fall back to the bytes/1KB row estimate on an unreadable
file and say so in the log; the partitioned writes replace whole
partition dirs by a staged swap, and roll back one a crash left half
done."""

import logging
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

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
        [st] = partition_stats(root, ["2025-06-01"])
    p, nbytes, nrows = (st[k] for k in ("partition", "estimated_bytes",
                                        "estimated_rows"))
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


def test_table_metadata_skips_a_crashed_stage(tmp_path):
    """The files of a `.stage-*` dir a crashed replace left are not table
    rows or bytes: no reader sees them. Spark-free."""
    path = str(tmp_path / "t")
    live = os.path.join(path, "dt=a", "part-0.parquet")
    for d in ("dt=a", ".stage-x/new/dt=a", ".stage-x/old/dt=a"):
        os.makedirs(os.path.join(path, d))
        pq.write_table(pa.table({"v": list(range(10))}),
                       os.path.join(path, d, "part-0.parquet"))
    [r] = catalog.table_metadata({"t": path})
    assert (r["row_count"], r["size_bytes"]) == (10, os.path.getsize(live))
    assert r["has_partitions"] and r["partition_key"] == "dt"


def test_table_metadata_partition_key_layout(tmp_path):
    """A metadata table's `partition_key=<p>` layout is partitioned by
    `partition_key`; a crashed replace's `.stage-*` dir is not a
    partition. Spark-free."""
    path = str(tmp_path / "metrics")
    for d in ("partition_key=a", "partition_key=b",
              ".stage-x/new/partition_key=a"):
        os.makedirs(os.path.join(path, d))
        pq.write_table(pa.table({"v": [1]}),
                       os.path.join(path, d, "part-0.parquet"))
    [r] = catalog.table_metadata({"metrics": path})
    assert (r["has_partitions"], r["partition_key"]) == (True, "partition_key")
    assert r["row_count"] == 2


def test_write_partitioned_keeps_session_overwrite_mode(spark, tmp_path):
    """The write replaces the listed dts, staged and swapped, whatever
    the session's overwrite mode: an unlisted dt is kept, a listed dt
    without rows loses its dir, and a staging dir a crash left is never
    read and is removed."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    path = str(tmp_path / "t")
    spark.conf.set(key, "static")
    try:
        catalog.write_partitioned(
            spark.createDataFrame([(1, "a"), (2, "b"), (4, "c")],
                                  "v int, dt string"),
            path, ["a", "b", "c"])
        # a crash mid-swap leaves a staging dir behind
        for k in ("new", "old"):
            leftover = os.path.join(path, ".stage-crashed", k, "dt=a")
            os.makedirs(leftover)
            pq.write_table(pa.table({"v": [99]}),
                           os.path.join(leftover, "part-0.parquet"))
        got = sorted((r["v"], r["dt"]) for r in spark.read.parquet(path).collect())
        assert got == [(1, "a"), (2, "b"), (4, "c")]
        # dt=b is replaced, dt=c is listed without rows, dt=a is kept
        catalog.write_partitioned(
            spark.createDataFrame([(3, "b")], "v int, dt string"), path,
            ["b", "c"])
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prior)
    got = sorted((r["v"], r["dt"]) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (3, "b")]
    assert sorted(os.listdir(path)) == ["dt=a", "dt=b"]


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
            manifest.commit_partitions(str(tmp_path), "run-tz", [
                {"partition": part, "completed_at": ts}])
        got = spark.read.parquet(manifest.manifest_path(str(tmp_path))).select(
            "partition", F.unix_micros("completed_at").alias("us")).collect()
    finally:
        spark.conf.set(key, old)
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from baselinr_spark.plans.events import EVENTS_DDL
    from baselinr_spark.plans.pipeline import LINEAGE_DDL, METRICS_DDL

    # the driver-side writers' and reader's schema is the one Spark maps
    # each DDL to
    for ddl in (manifest.MANIFEST_DDL, METRICS_DDL, EVENTS_DDL, LINEAGE_DDL):
        assert catalog.arrow_schema(ddl) == to_arrow_schema(
            StructType.fromDDL(ddl))
    assert [r["completed_at"] for r in manifest.latest_rows(str(tmp_path))] \
        == [now, now]
    want_us = int(now.timestamp()) * 1_000_000
    assert sorted(r["partition"] for r in got) == ["2025-06-01", "2025-06-02"]
    for r in got:
        assert abs(r["us"] - want_us) <= 1_000_000, r


def test_replace_partitions_swaps_only_listed_dirs(tmp_path):
    """Only the listed partitions and those the rows hold change: a
    listed one without rows is removed, an unlisted one is kept. A
    staging dir left by an interrupted write is not read, not even by a
    DuckDB `*/*.parquet` glob, and the next replace deletes it."""
    import datetime as dt

    import duckdb
    import pyarrow.dataset as ds

    ddl = "partition string, v long, ts timestamp"
    path = str(tmp_path / "t")
    ts = dt.datetime(2025, 6, 1, 12, tzinfo=dt.timezone.utc)
    catalog.replace_partitions(path, [
        {"partition": p, "v": i, "ts": ts}
        for i, p in enumerate(("a", "a", "b", "c"))], ddl, ["a", "b"])
    # a crash mid-swap leaves a staging dir behind
    for k in ("new", "old"):
        leftover = os.path.join(path, ".stage-crashed", k, "partition_key=a")
        os.makedirs(leftover)
        pq.write_table(pa.table({"partition": ["a"], "v": [99]}),
                       os.path.join(leftover, "part-0.parquet"))
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    assert sorted(t.column("v").to_pylist()) == [0, 1, 2, 3]
    assert duckdb.sql(f"select sum(v) from read_parquet('{path}/*/*.parquet')"
                      ).fetchall() == [(6,)]
    kept = sorted(os.listdir(os.path.join(path, "partition_key=c")))

    catalog.replace_partitions(path, [
        {"partition": "a", "v": 10, "ts": ts},
        {"partition": "__schema__", "v": 11, "ts": ts}], ddl, ["a", "b"])

    assert sorted(os.listdir(path)) == [
        "partition_key=__schema__", "partition_key=a", "partition_key=c"]
    assert sorted(os.listdir(os.path.join(path, "partition_key=c"))) == kept
    for d in ("partition_key=a", "partition_key=__schema__"):
        [f] = os.listdir(os.path.join(path, d))
        assert f.startswith("part-") and f.endswith(".parquet")
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    assert sorted(zip(t.column("partition_key").to_pylist(),
                      t.column("v").to_pylist())) == [
        ("__schema__", 11), ("a", 10), ("c", 3)]
    # timestamps are stored as INT96 and read back as the same instant
    f = os.path.join(path, "partition_key=a",
                     os.listdir(os.path.join(path, "partition_key=a"))[0])
    assert pq.ParquetFile(f).schema.column(2).physical_type == "INT96"
    assert pq.read_table(f).column("ts").to_pylist() == [
        ts.replace(tzinfo=None)]


def test_replace_partitions_rolls_back_a_half_finished_swap(tmp_path,
                                                           monkeypatch):
    """A crash between the swap's two renames (live dir aside, new dir
    in) leaves a partition's only copy in the staging dir: the next call
    renames it back into place instead of deleting it."""
    import datetime as dt

    import duckdb

    ddl = "partition string, v long, ts timestamp"
    path = str(tmp_path / "t")
    ts = dt.datetime(2025, 6, 1, 12, tzinfo=dt.timezone.utc)
    catalog.replace_partitions(path, [
        {"partition": p, "v": i, "ts": ts}
        for i, p in enumerate(("a", "a", "b"))], ddl, [])

    def files():
        return {os.path.join(d, f): open(os.path.join(path, d, f), "rb").read()
                for d in os.listdir(path) if not d.startswith(".")
                for f in os.listdir(os.path.join(path, d))}

    glob = f"select count(*) from read_parquet('{path}/*/*.parquet')"
    before, count = files(), duckdb.sql(glob).fetchall()
    rename = os.rename

    def crash_on_swap_in(src, dst):
        # the swap's second rename moves `.stage-*/new/<name>` to live
        if os.path.basename(os.path.dirname(src)) == "new":
            raise OSError("crash")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_swap_in)
    with pytest.raises(OSError, match="crash"):
        catalog.replace_partitions(
            path, [{"partition": "a", "v": 10, "ts": ts}], ddl, ["a"])
    monkeypatch.setattr(os, "rename", rename)
    assert not os.path.exists(os.path.join(path, "partition_key=a"))

    catalog.replace_partitions(path, [], ddl, [])
    assert duckdb.sql(glob).fetchall() == count == [(3,)]
    assert files() == before
    assert sorted(os.listdir(path)) == ["partition_key=a", "partition_key=b"]


def test_column_bounds_from_footers(tmp_path):
    """A partition's (min, max) from its files' row-group statistics:
    row groups without a value or without statistics, and hidden files,
    are skipped; a partition with no statistics or no dir is left out."""
    root = str(tmp_path)
    for p in "abce":
        os.makedirs(os.path.join(root, f"dt={p}"))

    def put(p, name, table, **kw):
        pq.write_table(table, os.path.join(root, f"dt={p}", name), **kw)

    put("a", "p1.parquet", pa.table({"x": [1.0, 5.0, 7.0],
                                     "perplexity": [3.0, None, 8.5]}),
        row_group_size=1)
    put("a", "p2.parquet", pa.table({"x": [1.0], "perplexity": [-2.5]}))
    put("a", ".p3.parquet", pa.table({"x": [1.0], "perplexity": [99.0]}))
    put("b", "p.parquet", pa.table({"perplexity": [1.0, 2.0]}),
        write_statistics=False)
    put("c", "p.parquet", pa.table({"perplexity": pa.array([None], pa.float64())}))
    put("e", "p1.parquet", pa.table({"perplexity": [4.0, 4.0]}))
    put("e", "p2.parquet", pa.table({"perplexity": [9.0]}),
        write_statistics=False)
    assert catalog.column_bounds(root, "perplexity", list("abcde")) == {
        "a": (-2.5, 8.5), "e": (4.0, 4.0)}
