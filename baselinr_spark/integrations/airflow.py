"""Airflow operators for the quality-filter pipeline.

Mirrors /root/reference/baselinr/integrations/airflow/operators.py's
structure — including its import-gating trick (operators.py:21-38: a
dummy base class stands in when Airflow isn't installed, so the module
always imports and the callables stay unit-testable). The three
operators there (BaselinrProfileOperator :40, BaselinrDriftOperator
:160, BaselinrQueryOperator :322) map onto the pipeline / drift-events
/ chat-tool surfaces of this repo.

Each operator's work function is ALSO exported standalone
(`profile_task` / `drift_task` / `query_task`) — that's what the
operator's python_callable runs, what Dagster ops wrap, and what tests
drive without any orchestrator installed. The tasks accept an existing
SparkSession (an orchestrator worker owns its session lifecycle) and
return plain JSON-safe dicts for XCom.
"""

from __future__ import annotations

from typing import Any

try:  # pragma: no cover - airflow not installed in this sandbox
    from airflow.operators.python import PythonOperator

    AIRFLOW_AVAILABLE = True
except Exception:  # ImportError and airflow-internal errors alike
    AIRFLOW_AVAILABLE = False

    class PythonOperator:  # type: ignore[no-redef]
        """Dummy base when Airflow is absent (reference
        operators.py:23-38): construction works, execution raises."""

        template_fields: tuple = ()

        def __init__(self, *args: Any, **kwargs: Any) -> None:
            self.task_id = kwargs.get("task_id")
            self.python_callable = kwargs.get("python_callable")

        def execute(self, context: dict) -> Any:
            raise ImportError(
                "apache-airflow is not installed; call the standalone "
                "task function instead (profile_task/drift_task/query_task)"
            )


__all__ = [
    "AIRFLOW_AVAILABLE",
    "profile_task",
    "drift_task",
    "query_task",
    "BaselinrSparkProfileOperator",
    "BaselinrSparkDriftOperator",
    "BaselinrSparkQueryOperator",
]


def profile_task(
    spark,
    input_path: str,
    output_root: str,
    run_id: str | None = None,
    **pipeline_kwargs: Any,
) -> dict:
    """Run the incremental filter+profile pipeline; returns its summary
    (JSON-safe). The manifest makes re-triggered DAG runs idempotent —
    already-done partitions are skipped, the Airflow-native retry
    contract (reference operators.py:99-158)."""
    from ..plans.pipeline import run_pipeline

    return run_pipeline(spark, input_path, output_root, run_id=run_id,
                        **pipeline_kwargs)


def drift_task(
    spark,
    output_root: str,
    severity: str | None = None,
    fail_on: str | None = "high",
    limit: int = 100,
) -> dict:
    """Collect drift events from the warehouse; raises when any event
    reaches ``fail_on`` severity so the DAG task fails visibly
    (reference operators.py:235-320 fail_on_drift semantics)."""
    import os

    from pyspark.sql import functions as F

    from ..severity import severity_rank, severity_rank_expr

    ev = spark.read.parquet(os.path.join(output_root, "events")).filter(
        F.col("event_type") == "distribution_drift"
    )
    if severity:
        ev = ev.filter(F.col("severity") == severity)
    rows = [r.asDict(recursive=True) for r in
            ev.orderBy(F.desc("ts"), "event_id").limit(limit).collect()]
    result = {"drift_events": len(rows), "events": rows}
    if fail_on is not None:
        rank = severity_rank(fail_on)
        worst = ev.agg(
            F.max(severity_rank_expr(F.col("severity")))
        ).collect()[0][0] or 0
        result["worst_severity_rank"] = int(worst)
        if worst >= rank:
            raise RuntimeError(
                f"drift at or above {fail_on!r} severity detected "
                f"({result['drift_events']} events)"
            )
    return result


def query_task(spark, output_root: str, tool: str, **kwargs: Any) -> list[dict]:
    """Run one chat/metadata tool by name (reference
    operators.py:399-…: query_metadata over the query client)."""
    from ..chat import ToolRegistry, setup_tools

    reg = ToolRegistry()
    setup_tools(reg, spark, output_root)
    t = reg.get_tool(tool)
    if t is None:
        raise KeyError(f"unknown tool {tool!r}; have "
                       f"{[x.name for x in reg.list_tools()]}")
    return t.function(**kwargs)


def _session():
    from ..session import build_session

    return build_session(app_name="baselinr_airflow")


class BaselinrSparkProfileOperator(PythonOperator):
    """Airflow wrapper over `profile_task`."""

    def __init__(self, *, input_path: str, output_root: str,
                 run_id: str | None = None, **kwargs: Any) -> None:
        def _run(**context: Any) -> dict:
            return profile_task(_session(), input_path, output_root,
                                run_id=run_id)

        super().__init__(python_callable=_run, **kwargs)


class BaselinrSparkDriftOperator(PythonOperator):
    """Airflow wrapper over `drift_task`."""

    def __init__(self, *, output_root: str, severity: str | None = None,
                 fail_on: str | None = "high", **kwargs: Any) -> None:
        def _run(**context: Any) -> dict:
            return drift_task(_session(), output_root, severity=severity,
                              fail_on=fail_on)

        super().__init__(python_callable=_run, **kwargs)


class BaselinrSparkQueryOperator(PythonOperator):
    """Airflow wrapper over `query_task`."""

    def __init__(self, *, output_root: str, tool: str,
                 tool_kwargs: dict | None = None, **kwargs: Any) -> None:
        def _run(**context: Any) -> list[dict]:
            return query_task(_session(), output_root, tool,
                              **(tool_kwargs or {}))

        super().__init__(python_callable=_run, **kwargs)
