"""Checkpoint/resume: kill mid-run → rerun → identical final state
(SURVEY.md §7 step 9; reference incremental semantics
/root/reference/baselinr/incremental/state.py + planner.py)."""

import os

import pytest
from pyspark.sql import functions as F

from baselinr_spark.plans.pipeline import run_pipeline
from baselinr_spark.sources import manifest


def _docs_state(spark, out_root):
    df = spark.read.parquet(os.path.join(out_root, "docs"))
    rows = df.select("url", "keep", "scrubbed_text", F.col("dt").cast("string")).collect()
    return sorted((r[0], r[1], r[2], r[3]) for r in rows)


def _done(out_root):
    """Partitions whose latest manifest row is a full run."""
    return [r["partition"] for r in manifest.latest_rows(out_root)
            if r["status"] == "done"]


def test_resume_after_crash(spark, warehouse, out_root, tmp_path_factory,
                            monkeypatch):
    # crash after writing chunk-0 and chunk-1 data but before chunk-1 commit
    commit, calls = manifest.commit_partitions, []

    def crash_second_commit(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected failure before manifest commit")
        commit(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(manifest, "commit_partitions", crash_second_commit)
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(spark, warehouse, out_root, run_id="run-a",
                         checkpoint_every=3)
    done_after_crash = _done(out_root)
    assert len(done_after_crash) == 3  # only chunk 0 committed

    # resume: must process exactly the remainder
    summary2 = run_pipeline(spark, warehouse, out_root, run_id="run-b", checkpoint_every=3)
    assert set(summary2["partitions_processed"]).isdisjoint(done_after_crash)

    all_parts = _done(out_root)
    assert sorted(summary2["partitions_processed"] + done_after_crash) == all_parts

    # final state identical to a clean single run
    clean_root = str(tmp_path_factory.mktemp("clean"))
    run_pipeline(spark, warehouse, clean_root, run_id="run-c")
    assert _docs_state(spark, out_root) == _docs_state(spark, clean_root)


def test_rerun_is_noop(spark, warehouse, out_root):
    run_pipeline(spark, warehouse, out_root, run_id="run-1")
    s2 = run_pipeline(spark, warehouse, out_root, run_id="run-2")
    assert s2["partitions_processed"] == []
    assert s2["partitions_skipped"] == s2["partitions_total"]


def test_max_partitions_cap(spark, warehouse, out_root):
    s1 = run_pipeline(spark, warehouse, out_root, run_id="run-cap", max_partitions=2)
    assert len(s1["partitions_processed"]) == 2
    s2 = run_pipeline(spark, warehouse, out_root, run_id="run-cap2")
    assert len(s2["partitions_processed"]) == s2["partitions_total"] - 2


def test_skew_mode_split_parity(spark, warehouse, out_root, tmp_path_factory):
    """skew_mode='split' (shuffle-free scan-split balancing) must produce
    the identical docs table as the rebalance-shuffle mode."""
    run_pipeline(spark, warehouse, out_root, run_id="r-reb",
                 skew_mode="rebalance")
    split_root = str(tmp_path_factory.mktemp("split"))
    run_pipeline(spark, warehouse, split_root, run_id="r-split",
                 skew_mode="split")
    assert _docs_state(spark, out_root) == _docs_state(spark, split_root)
    # restored session conf
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") in (
        str(128 << 20), "134217728", "128MB")
