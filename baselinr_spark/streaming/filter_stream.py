"""Structured Streaming front-end for the quality filter.

The reference is batch-only (SURVEY.md §2.16: no streaming subsystem),
so this is an additive Spark-native capability, not a parity item: the
same transform (`plans.pipeline.transform_pages` — native features +
one fused Arrow UDF) applied to a file stream of page parquet, written
with exactly-once semantics via the streaming checkpoint.

Design for scale:
- `readStream` with `maxFilesPerTrigger` bounds micro-batch size, so
  executor memory needs do not grow with backlog depth.
- The sink is `foreachBatch` → dynamic partition overwrite scoped by
  (dt, batch): a dt partition accumulates one subdir per micro-batch, so
  later batches touching the same day never clobber earlier ones, while
  a RE-DELIVERED batch (restart between sink write and checkpoint
  commit) overwrites exactly its own (dt, batch) dirs — idempotent
  exactly-once output. Readers see the extra `batch` partition column
  via normal partition discovery.
- `trigger(availableNow=True)` gives a drain-the-backlog batch run with
  streaming bookkeeping — the standard backfill/cutover pattern.

Watermarking note: the per-cohort metrics/drift enrichments stay in the
batch layer (they need whole-partition aggregates); a streaming job that
wanted them incrementally would add `withWatermark("warc_ts", "1 day")`
and a windowed groupBy — both composable with this source.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, FilterConfig
from ..plans.pipeline import transform_pages
from ..sources.pages import PAGES_DDL


def start_filter_stream(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    cfg: FilterConfig = DEFAULT_CONFIG,
    run_id: str = "stream-0",
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Start (and return) the streaming query. With available_now=True
    the query drains the current backlog and stops — call
    `.awaitTermination()`; with False it runs continuously on
    `max_files_per_trigger`-bounded micro-batches."""
    docs_dir = os.path.join(output_root, "docs")
    checkpoint = os.path.join(output_root, "_stream_checkpoint")

    pages = (
        spark.readStream.schema(PAGES_DDL + ", dt date")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    pages = pages.select("url", "warc_ts", "text", "dt")

    def _sink(batch_df, batch_id: int) -> None:
        docs = transform_pages(
            spark, batch_df, cfg, run_id=f"{run_id}-b{batch_id}",
        ).withColumn("batch", F.lit(batch_id))
        # per-write option, NOT session conf: foreachBatch runs in a cloned
        # SparkSession, so outer-session conf does not reach this write
        docs.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("dt", "batch").parquet(docs_dir)

    writer = (
        pages.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .queryName(f"baselinr-filter-{run_id}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
