"""Local 'warehouse' abstraction: partitioned parquet standing in for
Iceberg.

The north rule targets Iceberg tables partitioned by days(warc_ts). This
sandbox image ships no iceberg-spark runtime jar (checked: no ivy cache,
no iceberg jar under $SPARK_HOME/jars), so — per the SURVEY.md §7 risk
register — we emulate the two Iceberg features the pipeline actually
relies on:

1. *partition transform* days(warc_ts) → explicit `dt` date column +
   parquet `partitionBy("dt")` (Catalyst still prunes on dt predicates);
2. *metadata tables* (`db.pages.partitions`, snapshot manifest) → a
   `processed_partitions` parquet manifest (sources/manifest.py) and
   filesystem listing for partition discovery.

Writes use dynamic partition overwrite, which is the idempotence
primitive Iceberg's `REPLACE PARTITIONS` would give us: re-running a
partition replaces exactly that partition's files.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)


def list_partitions(path: str, partition_col: str = "dt") -> list[str]:
    """Filesystem partition discovery (stand-in for the Iceberg
    `.partitions` metadata table; cf. reference planner's list_tables
    expansion /root/reference/baselinr/planner.py:379-713)."""
    if not os.path.isdir(path):
        return []
    pat = re.compile(re.escape(partition_col) + r"=(.+)$")
    out = []
    for name in os.listdir(path):
        m = pat.match(name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(m.group(1))
    return sorted(out)


def write_partitioned(df: DataFrame, path: str, partition_col: str = "dt") -> None:
    """Dynamic partition overwrite — only partitions present in `df` are
    replaced; everything else is untouched (Iceberg REPLACE PARTITIONS
    semantics). A per-write option: the session's own
    partitionOverwriteMode is left as the caller set it."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def rows_frame(spark: SparkSession, rows: list[dict], ddl: str) -> DataFrame:
    """Driver-side rows (dicts keyed by column name; a missing key is
    NULL) as a frame of schema `ddl`, through a typed Arrow table: Spark
    takes its JVM-side path whatever the session's Arrow setting, and
    NULL stays NULL beside doubles (a pandas frame would hold NaN there,
    which a session without Arrow stores). Timestamps must be UTC,
    tz-aware or naive: pyarrow keeps a datetime's wall clock and drops
    its offset."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


#: common partition-column name patterns, in reference order
#: (/root/reference/baselinr/profiling/query_builder.py:252-262)
PARTITION_NAME_PATTERNS = (
    "date", "event_date", "partition_date", "created_at", "updated_at",
    "timestamp", "dt", "ds",
)


def infer_partition_key(df: DataFrame) -> str | None:
    """Infer the partition column from the schema (reference
    query_builder.py:237-280): a column whose lower-cased name is one of
    the common patterns wins; otherwise a DATE/TIMESTAMP-typed column
    whose name contains 'date'. Returns None when nothing matches —
    driver-side schema metadata only, no scan."""
    for field in df.schema.fields:
        if field.name.lower() in PARTITION_NAME_PATTERNS:
            return field.name
    for field in df.schema.fields:
        type_str = field.dataType.simpleString().lower()
        if any(t in type_str for t in ("date", "timestamp")):
            if "date" in field.name.lower():
                return field.name
    return None


def collect_table_metadata(
    spark: SparkSession,
    tables: dict[str, str],
    now=None,
) -> DataFrame:
    """Filesystem recast of the reference MetadataCollector
    (/root/reference/baselinr/smart_selection/metadata_collector.py:74-681).
    The reference fans out per-dialect system-table SQL (Snowflake
    ACCOUNT_USAGE, BigQuery INFORMATION_SCHEMA, pg_stat tables, ...) —
    the per-warehouse fan-out SURVEY.md flags as an anti-pattern to
    collapse. The parquet/Iceberg analog reads the same signals from
    storage metadata: bytes from file stats, rows from parquet footers,
    modification time from mtimes, partitioning from the directory
    layout — O(files) metadata reads, never a data scan. A footer that
    cannot be read is logged, and its file counts as bytes // 1024 rows.

    ``tables`` maps table name → directory. Query statistics
    (query_count, last_query_time) live in the query ENGINE's log, not
    in table storage; callers join them in, and `score_tables` treats
    their absence as the neutral 50 the reference uses for unknown
    metadata.

    Returns (table, row_count, size_bytes, last_modified_time,
    days_since_modified, has_partitions, partition_key)."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    now = now or _dt.datetime.now(_dt.timezone.utc)
    if now.tzinfo is not None:
        now = now.astimezone(_dt.timezone.utc).replace(tzinfo=None)

    rows = []
    for name, path in sorted(tables.items()):
        nbytes, nrows, mtime, rows_known = 0, 0, None, False
        if os.path.isdir(path):
            for root, _, files in os.walk(path):
                for f in sorted(files):
                    if f.startswith(("_", ".")):
                        continue
                    full = os.path.join(root, f)
                    try:
                        st = os.stat(full)
                    except OSError:
                        continue
                    nbytes += st.st_size
                    if mtime is None or st.st_mtime > mtime:
                        mtime = st.st_mtime
                    if f.endswith(".parquet"):
                        try:
                            nrows += pq.ParquetFile(full).metadata.num_rows
                            rows_known = True
                        except (OSError, pa.ArrowInvalid) as e:
                            _log.warning("collect_table_metadata: unreadable "
                                         "footer %s: %s", full, e)
                            nrows += st.st_size // 1024
        if not rows_known and nrows == 0:
            nrows = nbytes // 1024
        parts = list_partitions(path)
        pkey = None
        if parts:
            first = next(
                n for n in os.listdir(path)
                if "=" in n and os.path.isdir(os.path.join(path, n)))
            pkey = first.split("=", 1)[0]
        last_mod = (_dt.datetime.utcfromtimestamp(mtime)
                    if mtime is not None else None)
        days = ((now - last_mod).total_seconds() / 86400.0
                if last_mod is not None else None)
        rows.append({"table": name, "row_count": nrows, "size_bytes": nbytes,
                     "last_modified_time": last_mod,
                     "days_since_modified": days,
                     "has_partitions": bool(parts), "partition_key": pkey})
    return rows_frame(
        spark, rows,
        "table string, row_count long, size_bytes long, "
        "last_modified_time timestamp, days_since_modified double, "
        "has_partitions boolean, partition_key string",
    )
