"""The metadata tables written on the driver stay one table with the
files Spark's partitioned sinks wrote into the same output root: an
older root, rerun for one dt, keeps its Spark schema and every reader
sees every row."""

import datetime as dt
import os
import shutil
import sys

import duckdb
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from baselinr_spark.chat import ToolRegistry, setup_tools
from baselinr_spark.plans.events import EVENTS_DDL
from baselinr_spark.plans.pipeline import LINEAGE_DDL, METRICS_DDL, run_pipeline
from baselinr_spark.sources import catalog, manifest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

import query_meta  # noqa: E402

TABLES = {"metrics": METRICS_DDL, "events": EVENTS_DDL, "lineage": LINEAGE_DDL}
#: the footer key Spark's parquet writer adds to every file
SPARK_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_sinks(spark, out):
    """Rewrite the metadata tables the way Spark's sinks wrote them: a
    frame of the rows written with partitionBy(partition_key) by one
    task, and the manifest as Spark-written parquet."""
    for name, ddl in TABLES.items():
        path = os.path.join(out, name)
        rows = ds.dataset(path, format="parquet").to_table().to_pylist()
        (catalog.rows_frame(spark, rows, ddl)
         .withColumn("partition_key", F.col("partition")).coalesce(1)
         .write.mode("overwrite").partitionBy("partition_key").parquet(path))
    path = manifest.manifest_path(out)
    rows = ds.dataset(path, format="parquet").to_table().to_pylist()
    (catalog.rows_frame(spark, rows, manifest.MANIFEST_DDL).coalesce(1)
     .write.mode("overwrite").parquet(path))


def _spark_written(d):
    """Whether every data file in dir `d` carries Spark's footer key."""
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert files, d
    return all(SPARK_KEY in (pq.read_metadata(os.path.join(d, f)).metadata
                             or {}) for f in files)


def test_rerun_on_spark_written_root(spark, warehouse, tmp_path):
    wh, out = str(tmp_path / "pages"), str(tmp_path / "out")
    shutil.copytree(warehouse, wh, copy_function=shutil.copy2)
    parts = catalog.list_partitions(wh)
    run_pipeline(spark, wh, out, run_id="old")
    _spark_sinks(spark, out)
    paths = {**{t: os.path.join(out, t) for t in TABLES},
             "manifest": manifest.manifest_path(out)}
    schemas = {t: spark.read.parquet(p).schema for t, p in paths.items()}

    # an upstream backfill of one dt: one of its input files changes
    day = parts[3]
    f = sorted(os.path.join(wh, f"dt={day}", n)
               for n in os.listdir(os.path.join(wh, f"dt={day}"))
               if n.endswith(".parquet"))[0]
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
    t0 = dt.datetime.now(dt.timezone.utc)
    summary = run_pipeline(spark, wh, out, run_id="new", reprocess_changed=True)
    t1 = dt.datetime.now(dt.timezone.utc)
    assert summary["partitions_processed"] == [day]

    con = duckdb.connect()
    for t, path in paths.items():
        df = spark.read.parquet(path)
        assert df.schema == schemas[t], t
        n = df.count()
        assert n == ds.dataset(path, format="parquet").count_rows() > 0, t
        glob = "*.parquet" if t == "manifest" else "*/*.parquet"
        assert con.execute(
            f"select count(*) from read_parquet('{path}/{glob}')"
        ).fetchone()[0] == n, t
    for t in TABLES:
        # the rerun dt holds the driver's file, every other dt Spark's
        for p in parts:
            d = os.path.join(paths[t], f"partition_key={p}")
            if os.path.isdir(d):
                assert _spark_written(d) == (p != day), (t, p)
    # both writers' instants read back as the same UTC instants
    lo, hi = t0.replace(tzinfo=None), t1.replace(tzinfo=None)
    lin = dict(con.execute(f"select partition, ts from read_parquet("
                           f"'{paths['lineage']}/*/*.parquet')").fetchall())
    assert sorted(lin) == parts
    assert [lo <= lin[p] <= hi for p in parts] == [p == day for p in parts]
    us = {r["partition"]: r["us"] for r in spark.read.parquet(paths["lineage"])
          .select("partition", F.unix_micros("ts").alias("us")).collect()}
    assert us == {p: int((lin[p] - dt.datetime(1970, 1, 1))
                         / dt.timedelta(microseconds=1)) for p in parts}

    latest = manifest.latest_rows(out)
    assert [r["partition"] for r in latest] == parts
    assert {r["partition"]: r["run_id"] for r in latest} == {
        p: "new" if p == day else "old" for p in parts}
    assert t0 <= latest[parts.index(day)]["completed_at"] <= t1

    reg = ToolRegistry()
    setup_tools(reg, spark, out)
    runs = reg.get_tool("query_recent_runs").function(limit=100)
    assert sorted(r["partition"] for r in runs) == parts
    hist = reg.get_tool("get_column_history").function(metric_name="count")
    assert sorted(h["partition"] for h in hist) == parts

    def cli(*argv):
        return query_meta.main(["--output", out, *argv], spark=spark)

    assert sorted(r["partition"] for r in cli("runs")) == parts
    n_events = spark.read.parquet(paths["events"]).count()
    assert len(cli("drift", "--limit", str(n_events + 1))) == n_events
    met = ds.dataset(paths["metrics"], format="parquet").to_table(
        columns=["run_id", "partition"]).to_pylist()
    for run_id in ("old", "new"):
        got = cli("run", "--run-id", run_id)
        assert len(got) == sum(r["run_id"] == run_id for r in met) > 0
        assert ({r["partition"] for r in got} == {day}) == (run_id == "new")
