"""Lineage graph queries: upstream/downstream closure and path finding.

Recasts the reference LineageQueryClient
(/root/reference/baselinr/query/lineage_client.py:84-351) over a
lineage-edge DataFrame ``(upstream_table, downstream_table,
lineage_type, confidence_score)`` instead of per-node SQL round trips.

The reference traverses one node per query (recursive Python + one
SELECT per node). The Spark recast is *level-synchronous BFS*: each
level is ONE join of the current frontier against the (cached) edge
table, so a level costs one distributed join regardless of frontier
width — a million-table catalog traverses in ``diameter`` jobs, not
``nodes`` queries. The visited set is a DataFrame maintained with an
anti-join (no driver-side set).

Deviation from the reference (documented): the reference's recursive
DFS assigns a multiply-reachable node the depth of whichever path its
driver-side iteration happened to walk first. BFS assigns the MINIMAL
depth — deterministic and canonical. Like the reference, one result row
is emitted per discovered *edge* (a node reachable via two parents
appears twice), and a node is only expanded once.

Depth convention matches the reference (lineage_client.py:104-172):
direct dependencies have depth 0, their dependencies depth 1, etc.;
``max_depth=0`` returns only direct dependencies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pipeline_edges(spark: SparkSession, output_root: str) -> DataFrame:
    """The pipeline's lineage table under `output_root` as an edge
    frame: each input partition path feeds its output partition path."""
    lin = spark.read.parquet(os.path.join(output_root, "lineage"))
    return lin.select(
        F.col("input_path").alias("upstream_table"),
        F.col("output_path").alias("downstream_table"),
        F.lit("pipeline").alias("lineage_type"),
        F.lit(1.0).alias("confidence_score"),
    )


def _traverse(
    edges: DataFrame,
    start_table: str,
    from_col: str,
    to_col: str,
    max_depth: int | None,
) -> DataFrame:
    """BFS closure from ``start_table`` following edges ``from_col`` →
    ``to_col``; returns one row per discovered edge with ``depth``."""
    spark = edges.sparkSession
    edges = edges.persist()
    frontier = spark.createDataFrame([(start_table,)], f"{from_col} string")
    visited = frontier
    levels: list[DataFrame] = []
    depth = 0
    while max_depth is None or depth <= max_depth:
        found = edges.join(F.broadcast(frontier), from_col, "inner")
        # localCheckpoint, not persist: it both truncates the per-level
        # lineage (plans otherwise grow with depth) and ties the cached
        # blocks to the DataFrame's lifetime — a persist() here would
        # leak session-lifetime storage on every call
        level = found.withColumn("depth", F.lit(depth)).localCheckpoint()
        if level.isEmpty():
            break
        levels.append(level)
        frontier = (
            level.select(F.col(to_col).alias(from_col))
            .distinct()
            .join(visited, from_col, "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionByName(frontier)
        depth += 1
    edges.unpersist()
    if not levels:
        return (
            edges.withColumn("depth", F.lit(0))
            .where(F.lit(False))
            .select(F.col(to_col).alias("table"), "depth", "lineage_type",
                    "confidence_score")
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        F.col(to_col).alias("table"), "depth", "lineage_type",
        "confidence_score",
    )


def get_upstream_tables(
    edges: DataFrame, table_name: str, max_depth: int | None = None
) -> DataFrame:
    """All (transitive) upstream dependencies of ``table_name``
    (lineage_client.py:84-176): rows (table, depth, lineage_type,
    confidence_score), direct parents at depth 0."""
    return _traverse(edges, table_name, "downstream_table",
                     "upstream_table", max_depth)


def get_downstream_tables(
    edges: DataFrame, table_name: str, max_depth: int | None = None
) -> DataFrame:
    """All (transitive) downstream dependents of ``table_name``
    (lineage_client.py:177-269)."""
    return _traverse(edges, table_name, "upstream_table",
                     "downstream_table", max_depth)


def get_lineage_path(
    edges: DataFrame,
    from_table: str,
    to_table: str,
    max_depth: int | None = None,
) -> DataFrame:
    """Shortest downstream path ``from_table`` → … → ``to_table``
    (lineage_client.py:270-351, BFS): rows (step, table), empty if no
    path within ``max_depth`` hops. Among equal-length paths the
    lexicographically smallest is returned (the reference returns
    whichever its driver-side queue produced first — nondeterministic;
    BFS + lexical tiebreak is the deterministic recast).
    """
    spark = edges.sparkSession
    edges = edges.persist()
    frontier = spark.createDataFrame(
        [(from_table, [from_table])], "node string, path array<string>"
    )
    visited = frontier.select("node")
    hops = 0
    while True:
        hit = (
            frontier.where(F.col("node") == to_table)
            .orderBy("path")
            .limit(1)
            .collect()
        )
        if hit:
            edges.unpersist()
            path = hit[0]["path"]
            return spark.createDataFrame(
                list(enumerate(path)), "step int, table string"
            )
        if max_depth is not None and hops >= max_depth:
            break
        nxt = (
            frontier.join(
                edges, frontier["node"] == edges["upstream_table"], "inner"
            )
            .select(
                F.col("downstream_table").alias("node"),
                F.array_append(F.col("path"), F.col("downstream_table")).alias(
                    "path"
                ),
            )
            .join(visited, "node", "left_anti")
            # one shortest-lex path per node is enough for path finding
            .groupBy("node")
            .agg(F.min("path").alias("path"))
            # localCheckpoint: truncates the growing BFS lineage and is
            # released with the DataFrame (persist would leak per call)
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt.select("node"))
        frontier = nxt
        hops += 1
    edges.unpersist()
    return spark.createDataFrame([], "step int, table string")


def with_staleness(
    edges: DataFrame,
    now: "datetime.datetime",
    warn_stale_days: int = 30,
) -> DataFrame:
    """Stamp an ``is_stale`` flag on lineage edges (reference
    lineage_client.py:37-83): an edge whose ``last_seen_at`` is older
    than ``now − warn_stale_days`` is stale; edges without a
    ``last_seen_at`` (config-declared rather than query-history-derived)
    are never stale. ``now`` is an explicit anchor so plans stay
    deterministic."""
    import datetime

    cutoff = now - datetime.timedelta(days=warn_stale_days)
    return edges.withColumn(
        "is_stale",
        F.when(
            F.col("last_seen_at").isNotNull(),
            F.col("last_seen_at") < F.lit(cutoff),
        ).otherwise(F.lit(False)),
    )
