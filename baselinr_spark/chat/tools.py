"""Provider-agnostic chat tool registry over the pipeline warehouse.

Recasts /root/reference/baselinr/chat/tools.py (876 LoC): the Tool /
ToolRegistry contract (tools.py:18-86 — name, description, JSON-schema
parameters, category, examples, OpenAI/Anthropic export shapes) and
the eight registered tools (tools.py:88-876) are kept 1:1; the
execution side is recast from SQLAlchemy row loops to the repo's
DataFrame query surface over the parquet output root. Every tool is
deterministic — this module is the FULL tool layer the reference's
chat agent calls into; the LLM loop itself (chat/agent.py provider
calls) is out of sandbox scope, and the deterministic half of the
agent (intent → tool dispatch) lives in chat/router.py.

Tool results are lists of plain dicts (metadata scale — the tools read
metrics/events/manifest tables, never corpus text), matching the
reference's `[run.to_dict() for run in runs]` return contract.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["Tool", "ToolRegistry", "setup_tools"]


@dataclass
class Tool:
    """One callable tool (reference tools.py:18-46)."""

    name: str
    description: str
    parameters: dict
    function: Callable[..., list[dict]]
    category: str = "general"
    examples: list[str] = field(default_factory=list)

    def to_openai_format(self) -> dict:
        return {
            "type": "function",
            "function": {
                "name": self.name,
                "description": self.description,
                "parameters": self.parameters,
            },
        }

    def to_anthropic_format(self) -> dict:
        return {
            "name": self.name,
            "description": self.description,
            "input_schema": self.parameters,
        }


class ToolRegistry:
    """Name-keyed tool store (reference tools.py:48-86)."""

    def __init__(self) -> None:
        self._tools: dict[str, Tool] = {}

    def register(self, tool: Tool) -> None:
        self._tools[tool.name] = tool

    def get_tool(self, name: str) -> Tool | None:
        return self._tools.get(name)

    def list_tools(self) -> list[Tool]:
        return list(self._tools.values())

    def get_tools_by_category(self, category: str) -> list[Tool]:
        return [t for t in self._tools.values() if t.category == category]

    def to_openai_format(self) -> list[dict]:
        return [t.to_openai_format() for t in self._tools.values()]

    def to_anthropic_format(self) -> list[dict]:
        return [t.to_anthropic_format() for t in self._tools.values()]

    def get_tool_descriptions(self) -> str:
        lines = []
        for t in self._tools.values():
            lines.append(f"- {t.name} ({t.category}): {t.description}")
        return "\n".join(lines)


def _rows(df: DataFrame, limit: int | None = None) -> list[dict]:
    if limit is not None:
        df = df.limit(limit)
    return [r.asDict(recursive=True) for r in df.collect()]


def _int_param(desc: str, default: int) -> dict:
    return {"type": "integer", "description": desc, "default": default}


def _str_param(desc: str) -> dict:
    return {"type": "string", "description": desc}


def setup_tools(
    registry: ToolRegistry, spark: SparkSession, output_root: str
) -> None:
    """Register the eight reference tools (tools.py:88-118) against a
    pipeline output root. Reads are lazy — each tool builds its plan at
    call time, so warehouse updates between calls are visible."""

    def _events() -> DataFrame:
        return spark.read.parquet(os.path.join(output_root, "events")).drop(
            "partition_key"
        )

    def _metrics() -> DataFrame:
        return spark.read.parquet(os.path.join(output_root, "metrics")).drop(
            "partition_key"
        )

    # -- query_recent_runs (tools.py:120-188) --------------------------
    def query_recent_runs(
        partition: str | None = None,
        status: str | None = None,
        limit: int = 10,
    ) -> list[dict]:
        from ..sources import catalog, manifest

        m = catalog.rows_frame(spark, manifest.latest_rows(output_root),
                               manifest.MANIFEST_DDL)
        if partition:
            m = m.filter(F.col("partition") == partition)
        if status:
            m = m.filter(F.col("status") == status)
        return _rows(
            m.orderBy(F.desc("completed_at"), "partition"), limit
        )

    registry.register(Tool(
        name="query_recent_runs",
        description=(
            "Query recent profiling/filter runs: which partitions were "
            "processed, their status, doc counts, and completion time."
        ),
        parameters={
            "type": "object",
            "properties": {
                "partition": _str_param("Filter by partition (optional)"),
                "status": _str_param("Filter by status, e.g. 'done'/'sampled'"),
                "limit": _int_param("Maximum rows (default 10)", 10),
            },
            "required": [],
        },
        function=query_recent_runs,
        category="profiling",
        examples=["What partitions were processed recently?",
                  "Show failed runs"],
    ))

    # -- query_drift_events (tools.py:190-264) -------------------------
    def query_drift_events(
        partition: str | None = None,
        severity: str | None = None,
        limit: int = 20,
    ) -> list[dict]:
        ev = _events().filter(F.col("event_type") == "distribution_drift")
        if partition:
            ev = ev.filter(F.col("partition") == partition)
        if severity:
            ev = ev.filter(F.col("severity") == severity)
        return _rows(ev.orderBy(F.desc("ts"), "event_id"), limit)

    registry.register(Tool(
        name="query_drift_events",
        description=(
            "Query distribution-drift events (PSI vs the previous "
            "cohort). Filter by partition or severity (low/medium/high)."
        ),
        parameters={
            "type": "object",
            "properties": {
                "partition": _str_param("Filter by partition"),
                "severity": {"type": "string",
                             "enum": ["low", "medium", "high"],
                             "description": "Filter by severity level"},
                "limit": _int_param("Maximum events (default 20)", 20),
            },
            "required": [],
        },
        function=query_drift_events,
        category="drift",
        examples=["Show me high severity drift events",
                  "What drift occurred on 2025-06-03?"],
    ))

    # -- query_anomalies (tools.py:266-351) -----------------------------
    def query_anomalies(
        partition: str | None = None, limit: int = 20
    ) -> list[dict]:
        ev = _events().filter(F.col("event_type") == "anomaly_detected")
        if partition:
            ev = ev.filter(F.col("partition") == partition)
        return _rows(ev.orderBy(F.desc("ts"), "event_id"), limit)

    registry.register(Tool(
        name="query_anomalies",
        description="Query row-count anomaly events (control-limit "
                    "breaches) per partition cohort.",
        parameters={
            "type": "object",
            "properties": {
                "partition": _str_param("Filter by partition"),
                "limit": _int_param("Maximum events (default 20)", 20),
            },
            "required": [],
        },
        function=query_anomalies,
        category="anomaly",
        examples=["Any anomalies this week?"],
    ))

    # -- get_table_profile (tools.py:353-411) ---------------------------
    def get_table_profile(partition: str) -> list[dict]:
        met = _metrics().filter(F.col("partition") == partition)
        return _rows(met.orderBy("column_name", "metric_name"))

    registry.register(Tool(
        name="get_table_profile",
        description="Full metric profile of one partition cohort "
                    "(counts, keep rate, per-column metrics).",
        parameters={
            "type": "object",
            "properties": {"partition": _str_param("Partition, e.g. a dt")},
            "required": ["partition"],
        },
        function=get_table_profile,
        category="profiling",
        examples=["Profile partition 2025-06-01"],
    ))

    # -- get_column_history (tools.py:413-554) ---------------------------
    def get_column_history(
        metric_name: str, column_name: str | None = None, limit: int = 50
    ) -> list[dict]:
        met = _metrics().filter(F.col("metric_name") == metric_name)
        if column_name:
            met = met.filter(F.col("column_name") == column_name)
        return _rows(
            met.select("partition", "run_id", "column_name", "metric_name",
                       "metric_value", "profiled_at")
            .orderBy("partition", "column_name"),
            limit,
        )

    registry.register(Tool(
        name="get_column_history",
        description="History of one metric across partition cohorts "
                    "(trend inspection, e.g. keep_rate over days).",
        parameters={
            "type": "object",
            "properties": {
                "metric_name": _str_param("Metric, e.g. 'keep_rate'"),
                "column_name": _str_param("Optional column filter"),
                "limit": _int_param("Maximum rows (default 50)", 50),
            },
            "required": ["metric_name"],
        },
        function=get_column_history,
        category="profiling",
        examples=["How has keep_rate trended?"],
    ))

    # -- compare_runs (tools.py:556-693) ---------------------------------
    def compare_runs(partition_a: str, partition_b: str) -> list[dict]:
        met = _metrics().filter(
            F.col("metric_name").isin("count", "kept_count", "keep_rate")
        )
        a = met.filter(F.col("partition") == partition_a).select(
            "metric_name", F.col("metric_value").alias("value_a")
        )
        b = met.filter(F.col("partition") == partition_b).select(
            "metric_name", F.col("metric_value").alias("value_b")
        )
        cmpd = a.join(b, "metric_name", "full_outer").select(
            "metric_name", "value_a", "value_b",
            F.when(
                F.col("value_a").isNotNull() & (F.col("value_a") != 0),
                F.round((F.col("value_b") - F.col("value_a"))
                        / F.abs(F.col("value_a")) * 100, 4),
            ).alias("change_percent"),
        )
        return _rows(cmpd.orderBy("metric_name"))

    registry.register(Tool(
        name="compare_runs",
        description="Compare headline metrics of two partition cohorts "
                    "with percent change.",
        parameters={
            "type": "object",
            "properties": {
                "partition_a": _str_param("Baseline partition"),
                "partition_b": _str_param("Comparison partition"),
            },
            "required": ["partition_a", "partition_b"],
        },
        function=compare_runs,
        category="drift",
        examples=["Compare 2025-06-01 and 2025-06-02"],
    ))

    # -- search_tables (tools.py:695-786) ---------------------------------
    def search_tables(pattern: str, limit: int = 20) -> list[dict]:
        from ..sources import catalog, manifest

        m = catalog.rows_frame(spark, manifest.latest_rows(output_root),
                               manifest.MANIFEST_DDL)
        hits = m.filter(F.col("partition").rlike(pattern))
        return _rows(
            hits.select("partition", "status", "doc_count", "kept_count")
            .orderBy("partition"),
            limit,
        )

    registry.register(Tool(
        name="search_tables",
        description="Search processed partitions by regex pattern.",
        parameters={
            "type": "object",
            "properties": {
                "pattern": _str_param("Regex over partition names"),
                "limit": _int_param("Maximum rows (default 20)", 20),
            },
            "required": ["pattern"],
        },
        function=search_tables,
        category="discovery",
        examples=["Find June partitions"],
    ))

    # -- get_lineage (tools.py:788-876) -----------------------------------
    def get_lineage(table: str, direction: str = "upstream") -> list[dict]:
        from ..query.lineage import (get_downstream_tables,
                                     get_upstream_tables, pipeline_edges)

        fn = (get_upstream_tables if direction == "upstream"
              else get_downstream_tables)
        return _rows(fn(pipeline_edges(spark, output_root), table)
                     .orderBy("depth", "table"))

    registry.register(Tool(
        name="get_lineage",
        description="Upstream or downstream lineage of a table path.",
        parameters={
            "type": "object",
            "properties": {
                "table": _str_param("Table path to trace"),
                "direction": {"type": "string",
                              "enum": ["upstream", "downstream"],
                              "description": "Trace direction",
                              "default": "upstream"},
            },
            "required": ["table"],
        },
        function=get_lineage,
        category="lineage",
        examples=["What feeds docs/dt=2025-06-01?"],
    ))
