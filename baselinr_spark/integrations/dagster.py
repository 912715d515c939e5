"""Dagster glue: partition-change sensor logic + asset factories.

Mirrors /root/reference/baselinr/integrations/dagster/{sensors.py,
assets.py} with the same import-gating shape (both reference modules
degrade to plain functions when dagster is absent). The deterministic
core — cursor serialization (sensors.py:55-68) and changed-table
detection (sensors.py:70-88) — is fully implemented and unit-tested;
the dagster decorators are applied only when the package imports.

`detect_partitions_to_run` takes its run list from the pipeline's own
planner (plans/planner.py `plan_partitions` with ``reprocess_changed``)
— new dts AND fingerprint-changed backfills — and the asset runs the
pipeline with the same flag, so the asset processes exactly the
partitions the sensor requested, and once it has, the sensor goes
quiet. The cursor is the input's (partition → fingerprint) map, read
off the same plan rows: a tick walks each input partition once.
"""

from __future__ import annotations

import json
from typing import Any, Callable

try:  # pragma: no cover - dagster not installed in this sandbox
    import dagster  # noqa: F401

    DAGSTER_AVAILABLE = True
except Exception:
    DAGSTER_AVAILABLE = False

__all__ = [
    "DAGSTER_AVAILABLE",
    "serialize_cursor",
    "deserialize_cursor",
    "detect_partitions_to_run",
    "build_profile_asset",
    "build_plan_sensor",
]


def serialize_cursor(snapshot: dict[str, Any]) -> str:
    """Stable JSON (sorted keys) — reference sensors.py:66-68."""
    return json.dumps(snapshot, sort_keys=True)


def deserialize_cursor(cursor: str | None) -> dict[str, Any] | None:
    """None/invalid → None (reference sensors.py:55-64)."""
    if not cursor:
        return None
    try:
        out = json.loads(cursor)
    except (ValueError, TypeError):
        return None
    return out if isinstance(out, dict) else None


def detect_partitions_to_run(
    input_path: str, output_root: str
) -> tuple[list[str], str]:
    """(partitions to process, new cursor): the planner's ``run`` rows
    with ``reprocess_changed=True`` — partitions never profiled, and done
    ones whose input fingerprint changed (upstream backfill). Cursor =
    the fingerprint map the plan observed (its rows' ``fingerprint``)."""
    from ..plans import planner

    plan = planner.plan_partitions(input_path, output_root,
                                   reprocess_changed=True)
    todo = [r["partition"] for r in plan if r["action"] == "run"]
    return todo, serialize_cursor({r["partition"]: r["fingerprint"]
                                   for r in plan})


def build_profile_asset(
    input_path: str,
    output_root: str,
    *,
    name: str = "baselinr_profile",
    session_factory: Callable | None = None,
):
    """An asset (dagster installed) or a plain callable (not) that runs
    the incremental pipeline with ``reprocess_changed`` — the sensor's
    plan — and returns its summary (reference assets.py:131-…
    create_profiling_assets, one asset per plan)."""
    def _materialize() -> dict:
        from ..session import build_session

        spark = session_factory() if session_factory else build_session(
            app_name="baselinr_dagster")
        from .airflow import profile_task

        return profile_task(spark, input_path, output_root,
                            reprocess_changed=True)

    _materialize.__name__ = name
    if DAGSTER_AVAILABLE:  # pragma: no cover - not installed here
        import dagster

        return dagster.asset(name=name)(_materialize)
    return _materialize


def build_plan_sensor(input_path: str, output_root: str):
    """Sensor evaluation function: takes the previous cursor string,
    returns {'run_requested': bool, 'partitions': [...], 'cursor': str}
    (reference sensors.py:89-151 baselinr_plan_sensor). A run is
    requested exactly when the plan has partitions to run; the manifest,
    not the previous cursor, decides that. Wrapped in @dagster.sensor
    when the package is present; the evaluation logic is identical
    either way. A tick plans on the driver alone: it starts no Spark
    session."""
    def _evaluate(cursor: str | None = None) -> dict:
        todo, new_cursor = detect_partitions_to_run(input_path, output_root)
        return {"run_requested": bool(todo), "partitions": todo,
                "cursor": new_cursor}

    if DAGSTER_AVAILABLE:  # pragma: no cover - not installed here
        import dagster

        @dagster.sensor(name="baselinr_plan_sensor")
        def _sensor(context):
            out = _evaluate(context.cursor)
            context.update_cursor(out["cursor"])
            if out["run_requested"]:
                yield dagster.RunRequest(
                    run_key=out["cursor"],
                    tags={"partitions": ",".join(out["partitions"])},
                )

        return _sensor
    return _evaluate
