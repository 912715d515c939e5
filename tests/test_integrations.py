"""Orchestrator integrations: dbt manifest/selector parity, Airflow
task functions + dummy-base operators, Dagster sensor cursor logic."""

import glob
import json
import os

import pytest

from baselinr_spark.integrations.dbt import (
    DBTManifestParser,
    DBTSelectorResolver,
    lineage_edges_df,
)

MANIFEST = {
    "nodes": {
        "model.proj.stg_orders": {
            "resource_type": "model", "name": "stg_orders",
            "unique_id": "model.proj.stg_orders", "package_name": "proj",
            "schema": "staging", "alias": None, "tags": ["staging"],
            "config": {"materialized": "view"},
            "original_file_path": "models/staging/stg_orders.sql",
            "depends_on": {"nodes": []},
        },
        "model.proj.orders": {
            "resource_type": "model", "name": "orders",
            "unique_id": "model.proj.orders", "package_name": "proj",
            "schema": "marts", "alias": "fct_orders", "tags": ["marts", "core"],
            "config": {"materialized": "table"},
            "original_file_path": "models/marts/orders.sql",
            "depends_on": {"nodes": ["model.proj.stg_orders",
                                     "source.proj.raw_orders"]},
        },
        "model.other.orders": {
            "resource_type": "model", "name": "orders",
            "unique_id": "model.other.orders", "package_name": "other",
            "schema": "other_marts", "alias": None, "tags": [],
            "config": {"materialized": "table"},
            "original_file_path": "models/orders.sql",
            "depends_on": {"nodes": []},
        },
        "source.proj.raw_orders": {
            "resource_type": "source", "name": "raw_orders",
            "unique_id": "source.proj.raw_orders",
        },
        "test.proj.not_a_model": {"resource_type": "test"},
    }
}


@pytest.fixture()
def manifest_path(tmp_path):
    p = tmp_path / "manifest.json"
    p.write_text(json.dumps(MANIFEST))
    return str(p)


def test_manifest_parser(manifest_path):
    parser = DBTManifestParser(manifest_path)
    assert parser.resolve_ref("stg_orders") == ("staging", "stg_orders")
    # alias wins over name; package pin disambiguates
    assert parser.resolve_ref("orders", package="proj") == ("marts", "fct_orders")
    assert parser.resolve_ref("orders", package="other") == (
        "other_marts", "orders")
    assert parser.resolve_ref("nope") is None
    assert len(parser.get_all_models()) == 3
    assert [m["name"] for m in parser.get_models_by_tag("core")] == ["orders"]
    # lineage: model-to-model edges only (the source dep is dropped)
    lin = parser.extract_lineage()
    assert lin == {"marts.fct_orders": [("staging", "stg_orders")]}
    assert parser.get_model_dependencies("orders", package="proj") == [
        ("staging", "stg_orders")]
    with pytest.raises(FileNotFoundError):
        DBTManifestParser("/nonexistent/manifest.json")


def test_selector_resolver(manifest_path):
    r = DBTSelectorResolver(DBTManifestParser(manifest_path))
    assert {m["unique_id"] for m in r.resolve_selector("tag:staging")} == {
        "model.proj.stg_orders"}
    assert {m["unique_id"] for m in
            r.resolve_selector("config.materialized:table")} == {
        "model.proj.orders", "model.other.orders"}
    assert {m["unique_id"] for m in
            r.resolve_selector("path:models/staging")} == {
        "model.proj.stg_orders"}
    assert {m["unique_id"] for m in r.resolve_selector("package:other")} == {
        "model.other.orders"}
    # union and intersection
    assert {m["unique_id"] for m in
            r.resolve_selector("tag:staging + package:other")} == {
        "model.proj.stg_orders", "model.other.orders"}
    assert {m["unique_id"] for m in
            r.resolve_selector("tag:marts, config.materialized:table")} == {
        "model.proj.orders"}
    # bare model name
    assert {m["unique_id"] for m in r.resolve_selector("stg_orders")} == {
        "model.proj.stg_orders"}
    assert r.resolve_selector("name:missing") == []


def test_lineage_edges_df_plugs_into_traversal(spark, manifest_path):
    from baselinr_spark.query.lineage import get_upstream_tables

    edges = lineage_edges_df(spark, DBTManifestParser(manifest_path))
    up = get_upstream_tables(edges, "marts.fct_orders")
    rows = [(r["table"], r["depth"]) for r in up.collect()]
    assert rows == [("staging.stg_orders", 0)]


def test_airflow_tasks_and_dummy_operator(spark, warehouse, out_root):
    from baselinr_spark.integrations import airflow as af

    assert not af.AIRFLOW_AVAILABLE  # sandbox has no airflow
    summary = af.profile_task(spark, warehouse, out_root, run_id="af-run")
    assert summary["doc_count"] > 0
    # idempotent retrigger: second run skips everything
    again = af.profile_task(spark, warehouse, out_root, run_id="af-run2")
    assert again["partitions_skipped"] == again["partitions_total"]

    res = af.drift_task(spark, out_root, fail_on=None)
    assert res["drift_events"] >= 0
    # fail_on='low' must trip on any drift event at all
    if res["drift_events"]:
        with pytest.raises(RuntimeError, match="severity"):
            af.drift_task(spark, out_root, fail_on="low")

    rows = af.query_task(spark, out_root, "query_recent_runs", limit=3)
    assert 0 < len(rows) <= 3
    with pytest.raises(KeyError):
        af.query_task(spark, out_root, "no_such_tool")

    op = af.BaselinrSparkProfileOperator(
        task_id="t", input_path=warehouse, output_root=out_root)
    with pytest.raises(ImportError, match="not installed"):
        op.execute({})


def test_airflow_drift_fail_on_uses_shared_severity(spark, tmp_path):
    """fail_on ranks through severity.severity_rank: case-insensitive,
    and a typo is a ValueError naming the choices."""
    import datetime as dt

    from baselinr_spark.integrations import airflow as af
    from baselinr_spark.plans.events import EVENTS_DDL
    from baselinr_spark.sources import catalog

    ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    catalog.replace_partitions(str(tmp_path / "events"), [
        {"event_id": f"e{i}", "event_type": "distribution_drift",
         "partition": "2025-06-01", "severity": sev, "ts": ts}
        for i, sev in enumerate(("low", "medium"))], EVENTS_DDL,
        ["2025-06-01"])
    out = str(tmp_path)
    assert af.drift_task(spark, out, fail_on="HIGH") == \
        af.drift_task(spark, out, fail_on="high")
    assert af.drift_task(spark, out, fail_on="HIGH")["worst_severity_rank"] == 2
    with pytest.raises(RuntimeError, match="severity"):
        af.drift_task(spark, out, fail_on="Medium")
    with pytest.raises(ValueError, match="expected one of"):
        af.drift_task(spark, out, fail_on="hgih")


def test_dagster_sensor_logic(spark, warehouse, tmp_path):
    from baselinr_spark.integrations import dagster as dg
    from baselinr_spark.plans.pipeline import run_pipeline

    assert not dg.DAGSTER_AVAILABLE
    out_root = str(tmp_path / "dg_out")

    evaluate = dg.build_plan_sensor(warehouse, out_root)
    first = evaluate(None)
    assert first["run_requested"] and len(first["partitions"]) > 0

    run_pipeline(spark, warehouse, out_root, run_id="dg-run")
    second = evaluate(first["cursor"])
    assert second["run_requested"] is False and second["partitions"] == []
    # cursor round-trip helpers
    assert dg.deserialize_cursor(second["cursor"]) is not None
    assert dg.deserialize_cursor("not json") is None
    assert dg.deserialize_cursor(None) is None

    asset = dg.build_profile_asset(warehouse, out_root,
                                   session_factory=lambda: spark)
    res = asset()
    assert res["partitions_skipped"] == res["partitions_total"]

    # upstream backfill of one dt: the sensor requests exactly it, the
    # asset processes exactly it, and then the sensor goes quiet
    from baselinr_spark.sources import catalog

    victim = catalog.list_partitions(warehouse)[0]
    fpath = sorted(glob.glob(os.path.join(warehouse, f"dt={victim}",
                                          "*.parquet")))[0]
    st = os.stat(fpath)
    os.utime(fpath, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
    third = evaluate(second["cursor"])
    assert third["run_requested"] and third["partitions"] == [victim]
    assert third["cursor"] != second["cursor"]
    assert asset()["partitions_processed"] == [victim]
    fourth = evaluate(third["cursor"])
    assert fourth["run_requested"] is False and fourth["partitions"] == []
    assert fourth["cursor"] == third["cursor"]
