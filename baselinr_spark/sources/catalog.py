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

Writes replace whole partitions (Iceberg's `REPLACE PARTITIONS`, the
idempotence primitive): each table's new dirs are staged, by Spark or on
the driver, then renamed in over the live ones (`_swap`).
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import uuid
from typing import NamedTuple

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


class DataFile(NamedTuple):
    """A data file under a listed dir: its path relative to that dir,
    its stat size and mtime, and its parquet footer's row and row-group
    counts (None unless the file is a `*.parquet` whose footer reads)."""

    rel: str
    size: int
    mtime_ns: int
    rows: int | None
    row_groups: int | None


def list_data_files(dirs: list[str]) -> list[tuple[list[DataFile], list[str]]]:
    """(data files, errors) of each of `dirs`: the one driver-side walk
    of a partition's or a table's files, O(files) stat and footer reads,
    never a data scan. Files and dirs named `_*` or `.*` are skipped, as
    Spark's reader skips them (`_SUCCESS`, `.crc`, `_temporary/`, a
    crashed replace's `.stage-*/`). A file that cannot be stat'ed is left
    out; one whose footer cannot be read is kept with rows None. Each
    such failure is logged once and named in the errors. A missing dir
    lists as empty."""
    # stat/footer reads are I/O-bound; a thread pool keeps planning at
    # ~constant wall time into the thousands-of-partitions regime (on an
    # object store each stat is a round-trip, so this matters more there)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=16) as ex:
        return list(ex.map(_list_dir, dirs))


def _list_dir(d: str) -> tuple[list[DataFile], list[str]]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    files, errors = [], []

    def fail(msg):
        _log.warning("%s", msg)
        errors.append(msg)

    for root, subdirs, names in os.walk(d):
        subdirs[:] = sorted(s for s in subdirs if not s.startswith(("_", ".")))
        for f in sorted(n for n in names if not n.startswith(("_", "."))):
            full = os.path.join(root, f)
            try:
                st = os.stat(full)
            except OSError as e:
                fail(f"cannot stat {full}: {e}")
                continue
            rows = row_groups = None
            if f.endswith(".parquet"):
                try:
                    with pq.ParquetFile(full) as pf:
                        rows = pf.metadata.num_rows
                        row_groups = pf.metadata.num_row_groups
                except (OSError, pa.ArrowInvalid) as e:
                    fail(f"unreadable footer {full}: {e}")
            files.append(DataFile(os.path.relpath(full, d), st.st_size,
                                  st.st_mtime_ns, rows, row_groups))
    return files, errors


def estimated_rows(files: list[DataFile]) -> int:
    """Row count of `files` from their footers; a parquet file whose
    footer could not be read adds its bytes at the reference's ~1 KB per
    row (its `_estimate_cost`), and with no footer read at all every
    file's bytes count that way."""
    if all(f.rows is None for f in files):
        return sum(f.size for f in files) // 1024
    unread = sum(f.size for f in files
                 if f.rows is None and f.rel.endswith(".parquet"))
    return sum(f.rows or 0 for f in files) + unread // 1024


def _swap(path: str, stage: str, names: list[str]) -> None:
    """Replace each partition dir `names` under the table `path` by
    `stage/new/<name>`, or by nothing when none was staged: the live dir
    is renamed into `stage/old/`, the new one in, and `stage` deleted.
    No reader or `<path>/*/*.parquet` glob sees a '.'-named stage's
    files. Leftover stages are deleted first, after renaming back each
    live dir a crashed swap had moved aside but not replaced."""
    os.makedirs(path, exist_ok=True)
    for s in (os.path.join(path, n) for n in os.listdir(path)
              if n.startswith(".stage-") and os.path.join(path, n) != stage):
        old = os.path.join(s, "old")
        for name in os.listdir(old) if os.path.isdir(old) else ():
            if not os.path.exists(os.path.join(path, name)):
                os.rename(os.path.join(old, name), os.path.join(path, name))
        shutil.rmtree(s, ignore_errors=True)
    for name in names:
        live = os.path.join(path, name)
        new, old = (os.path.join(stage, k, name) for k in ("new", "old"))
        if os.path.isdir(live):
            os.makedirs(os.path.dirname(old), exist_ok=True)
            os.rename(live, old)
        if os.path.isdir(new):
            os.rename(new, live)
    shutil.rmtree(stage, ignore_errors=True)


def write_partitioned(df: DataFrame, path: str, parts: list[str],
                      partition_col: str = "dt") -> None:
    """Replace the `<partition_col>=<p>` dir under `path` of each p in
    `parts` with `df`'s rows of p, or none: a plain Spark write into a
    staging dir, then `_swap`, whatever the session's overwrite mode."""
    stage = os.path.join(path, f".stage-{uuid.uuid4().hex}")
    df.write.partitionBy(partition_col).parquet(os.path.join(stage, "new"))
    _swap(path, stage, [f"{partition_col}={p}" for p in parts])


def arrow_schema(ddl: str):
    """A flat DDL (`name type, ...`) as Spark maps it to Arrow, built
    without a session: timestamps are UTC instants."""
    import pyarrow as pa

    types = {"string": pa.string(), "long": pa.int64(), "double": pa.float64(),
             "boolean": pa.bool_(), "timestamp": pa.timestamp("us", tz="UTC")}
    return pa.schema([(n, types[t]) for n, t in
                      (c.split() for c in ddl.split(","))])


def rows_frame(spark: SparkSession, rows: list[dict], ddl: str) -> DataFrame:
    """Driver-side rows (dicts keyed by column name; a missing key is
    NULL) as a frame of schema `ddl`, through a typed Arrow table: Spark
    takes its JVM-side path whatever the session's Arrow setting, and
    NULL stays NULL beside doubles (a pandas frame would hold NaN there,
    which a session without Arrow stores). Timestamps must be UTC,
    tz-aware or naive: pyarrow keeps a datetime's wall clock and drops
    its offset."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    table = pa.Table.from_pylist(rows, schema=arrow_schema(ddl))
    return spark.createDataFrame(table, schema=StructType.fromDDL(ddl))


def write_rows(path: str, rows: list[dict], ddl: str) -> None:
    """Add one parquet file of `rows` (schema `ddl`, as rows_frame takes
    them) to the directory `path`, renamed into place once whole.
    Timestamps are INT96, as Spark's writer stores them, so Spark,
    pyarrow and DuckDB read both writers' files as one column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    # hidden and not *.parquet: no reader or glob picks up a partial file
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=arrow_schema(ddl)), tmp,
                   use_deprecated_int96_timestamps=True)
    os.rename(tmp, os.path.join(path, name))


def replace_partitions(path: str, rows: list[dict], ddl: str,
                       parts: list[str]) -> None:
    """Replace the `partition_key=<p>` dir under `path` of each p in
    `parts` or in the rows' `partition` column with one file of its rows
    (write_rows), or none when it has no rows; other dirs are untouched.
    Each file is written into a staging dir, then swapped in (`_swap`)."""
    by_part = {p: [] for p in parts}
    for r in rows:
        by_part.setdefault(r["partition"], []).append(r)
    stage = os.path.join(path, f".stage-{uuid.uuid4().hex}")
    for p, part_rows in by_part.items():
        if part_rows:
            write_rows(os.path.join(stage, "new", f"partition_key={p}"),
                       part_rows, ddl)
    _swap(path, stage, [f"partition_key={p}" for p in by_part])


def column_bounds(path: str, column: str, parts: list[str]) -> dict[str, tuple]:
    """(min, max) of the flat column `column` in each `dt=<p>` dir under
    `path`, from the row-group statistics its writer stored in the
    parquet footers: driver-side, no data read. A partition without such
    statistics is left out. They can be partial or inexact (a row group
    written without them, NaN), so callers check them against a computed
    min/max."""
    import pyarrow.dataset as ds

    out = {}
    for p in parts:
        d = os.path.join(path, f"dt={p}")
        if not os.path.isdir(d):
            continue
        stats = [s for f in ds.dataset(d, format="parquet").get_fragments()
                 for rg in f.row_groups if (s := rg.statistics.get(column))]
        if stats:
            out[p] = (min(s["min"] for s in stats), max(s["max"] for s in stats))
    return out


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


def collect_table_metadata(spark: SparkSession, tables: dict[str, str],
                           now=None) -> DataFrame:
    """`table_metadata` as a frame."""
    return rows_frame(
        spark, table_metadata(tables, now),
        "table string, row_count long, size_bytes long, "
        "last_modified_time timestamp, days_since_modified double, "
        "has_partitions boolean, partition_key string",
    )


def table_metadata(tables: dict[str, str], now=None) -> list[dict]:
    """Filesystem recast of the reference MetadataCollector
    (reference baselinr/smart_selection/metadata_collector.py:74-681).
    The reference fans out per-dialect system-table SQL (Snowflake
    ACCOUNT_USAGE, BigQuery INFORMATION_SCHEMA, pg_stat tables, ...) —
    the per-warehouse fan-out SURVEY.md flags as an anti-pattern to
    collapse. The parquet/Iceberg analog reads the same signals from
    storage metadata, over one `list_data_files` walk of each table:
    bytes from file stats, rows from parquet footers (`estimated_rows`),
    modification time from mtimes, partitioning from the directory
    layout — O(files) metadata reads, never a data scan, and no file a
    reader skips (a crashed replace's `.stage-*` dir) counted.

    ``tables`` maps table name → directory. Query statistics
    (query_count, last_query_time) live in the query ENGINE's log, not
    in table storage; callers join them in, and `score_tables` treats
    their absence as the neutral 50 the reference uses for unknown
    metadata.

    Returns one dict per table: (table, row_count, size_bytes,
    last_modified_time, days_since_modified, has_partitions,
    partition_key)."""
    import datetime as _dt

    now = now or _dt.datetime.now(_dt.timezone.utc)
    if now.tzinfo is not None:
        now = now.astimezone(_dt.timezone.utc).replace(tzinfo=None)

    names = sorted(tables)
    rows = []
    for name, (files, _) in zip(names, list_data_files(
            [tables[n] for n in names])):
        path = tables[name]
        # partitioning from the key=value dirs a reader sees (any key,
        # not only dt=: the metadata tables are partition_key=)
        keys = sorted(
            n.split("=", 1)[0] for n in (
                os.listdir(path) if os.path.isdir(path) else ())
            if "=" in n and not n.startswith(("_", "."))
            and os.path.isdir(os.path.join(path, n)))
        last_mod = (_dt.datetime.utcfromtimestamp(
            max(f.mtime_ns for f in files) / 1e9) if files else None)
        days = ((now - last_mod).total_seconds() / 86400.0
                if last_mod is not None else None)
        rows.append({"table": name, "row_count": estimated_rows(files),
                     "size_bytes": sum(f.size for f in files),
                     "last_modified_time": last_mod,
                     "days_since_modified": days,
                     "has_partitions": bool(keys),
                     "partition_key": keys[0] if keys else None})
    return rows
