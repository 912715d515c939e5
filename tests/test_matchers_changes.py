"""Table-pattern matching and input change detection."""

import glob
import os
import time

from baselinr_spark.operators.table_matcher import (
    filter_tables,
    match_table,
    matches_exclude_patterns,
    resolve_priority,
    wildcard_to_regex,
)
from baselinr_spark.plans.pipeline import run_pipeline
from baselinr_spark.plans.planner import partition_stats, plan_partitions

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def test_wildcard_to_regex():
    assert wildcard_to_regex("orders_*") == "^orders_.*$"
    assert wildcard_to_regex("t?bl") == "^t.bl$"
    assert wildcard_to_regex("a[bc]d") == "^a[bc]d$"
    # unclosed bracket is a literal '['
    assert wildcard_to_regex("a[bc") == "^a\\[bc$"
    # regex metachars in the pattern are literals
    assert wildcard_to_regex("a.b+c") == "^a\\.b\\+c$"
    assert match_table("a.b+c", "a.b+c")
    assert not match_table("axb+c", "a.b+c")


def test_match_and_filter_tables():
    assert match_table("orders_2024", "orders_*")
    assert not match_table("raw_orders", "orders_*")
    # regex uses re.match (prefix-anchored like the reference)
    assert match_table("orders_2024", r"orders_\d+", pattern_type="regex")
    assert match_table("orders_2024_x", r"orders_\d+", pattern_type="regex")

    got = filter_tables(TABLES, pattern="*e*",
                        exclude_patterns=["r*", "events"])
    assert got == ["customer", "supplier", "orders", "lineitem",
                   "documents", "embeddings"]
    assert filter_tables([], pattern="*") == []
    assert matches_exclude_patterns("tmp_x", ["tmp_*"])
    assert not matches_exclude_patterns("tmp_x", None)


def test_resolve_priority():
    matches = [("a", 1), ("b", 5), ("a", 3), ("c", 2)]
    assert resolve_priority(matches) == ["b", "a", "c"]
    # keep_highest=False keeps the MIN priority per table and sorts asc
    assert resolve_priority(matches, keep_highest=False) == ["a", "c", "b"]
    assert resolve_priority([]) == []


def partition_fingerprint(root, partition):
    [st] = partition_stats(root, [partition])
    return st["fingerprint"]


def test_fingerprint_tracks_file_changes(tmp_path):
    root = str(tmp_path)
    d = os.path.join(root, "dt=2024-01-01")
    os.makedirs(d)
    with open(os.path.join(d, "part-0.parquet"), "wb") as f:
        f.write(b"aaaa")
    fp1 = partition_fingerprint(root, "2024-01-01")
    assert fp1 == partition_fingerprint(root, "2024-01-01")  # stable
    # commit markers don't affect the fingerprint
    open(os.path.join(d, "_SUCCESS"), "w").close()
    assert partition_fingerprint(root, "2024-01-01") == fp1
    # content rewrite (same size, newer mtime) changes it
    time.sleep(0.01)
    with open(os.path.join(d, "part-0.parquet"), "wb") as f:
        f.write(b"bbbb")
    assert partition_fingerprint(root, "2024-01-01") != fp1
    # missing partition hashes to the empty fingerprint, deterministically
    assert (partition_fingerprint(root, "nope")
            == partition_fingerprint(root, "also-nope"))


#: the fingerprint every manifest on disk stores for GOLDEN_FILES: md5
#: of one `rel|size|mtime_ns` line per data file, sorted
GOLDEN_FP = "063d0f81831998719e7dc45ae4e2aba0"
GOLDEN_FILES = (("part-00000.bin", b"a" * 3000, 1_700_000_000_123_456_789),
                ("part-00001.bin", b"b" * 1500, 1_700_000_100_000_000_001),
                ("sub/part-00002.bin", b"c" * 100, 1_700_000_200_000_000_000))


def test_fingerprint_format_pinned(tmp_path):
    """A partition's fingerprint, bytes and rows are a function of its
    data files alone: commit markers, checksums and the hidden dirs of an
    in-flight or crashed write change none of them, and the fingerprint
    of fixed files is the md5 older manifests hold (else every stored
    partition would read as change_detected)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path)
    d = os.path.join(root, "dt=2024-01-01")
    for rel, data, ns in GOLDEN_FILES:
        os.makedirs(os.path.dirname(os.path.join(d, rel)), exist_ok=True)
        with open(os.path.join(d, rel), "wb") as f:
            f.write(data)
        os.utime(os.path.join(d, rel), ns=(ns, ns))
    [clean] = partition_stats(root, ["2024-01-01"])
    assert clean["fingerprint"] == GOLDEN_FP
    assert (clean["estimated_bytes"], clean["estimated_rows"]) == (4600, 4)

    open(os.path.join(d, "_SUCCESS"), "w").close()
    with open(os.path.join(d, ".part-00000.bin.crc"), "wb") as f:
        f.write(b"crc" * 10)
    for sub in ("_temporary/0", ".stage-x/new"):
        os.makedirs(os.path.join(d, sub))
        pq.write_table(pa.table({"v": list(range(7))}),
                       os.path.join(d, sub, "part-00009.parquet"))
    [noisy] = partition_stats(root, ["2024-01-01"])
    for k in ("fingerprint", "estimated_bytes", "estimated_rows"):
        assert noisy[k] == clean[k], k


def _changed(warehouse, out_root):
    """Done partitions whose input fingerprint no longer matches the
    committed one."""
    return [r["partition"] for r in plan_partitions(
        warehouse, out_root, reprocess_changed=True)
        if r["reason"] == "change_detected"]


def test_reprocess_changed_partition(spark, warehouse, out_root):
    s1 = run_pipeline(spark, warehouse, out_root, run_id="run-1")
    parts = sorted(s1["partitions_processed"])
    assert parts

    # nothing changed: plain rerun AND reprocess_changed rerun are no-ops
    assert run_pipeline(spark, warehouse, out_root, run_id="run-2")[
        "partitions_processed"] == []
    assert _changed(warehouse, out_root) == []
    s3 = run_pipeline(spark, warehouse, out_root, run_id="run-3",
                      reprocess_changed=True)
    assert s3["partitions_processed"] == []

    # simulate an upstream backfill: touch one partition's data file
    victim = parts[0]
    files = glob.glob(os.path.join(warehouse, f"dt={victim}", "*.parquet"))
    assert files
    now = time.time() + 2
    os.utime(files[0], (now, now))

    assert _changed(warehouse, out_root) == [victim]
    # manifest-only resume still skips it...
    assert run_pipeline(spark, warehouse, out_root, run_id="run-4")[
        "partitions_processed"] == []
    # ...but reprocess_changed re-runs exactly the backfilled partition
    s5 = run_pipeline(spark, warehouse, out_root, run_id="run-5",
                      reprocess_changed=True)
    assert s5["partitions_processed"] == [victim]
    # and the new fingerprint is committed: next run is a no-op again
    s6 = run_pipeline(spark, warehouse, out_root, run_id="run-6",
                      reprocess_changed=True)
    assert s6["partitions_processed"] == []


def test_filter_tables_by_tags():
    from baselinr_spark.operators.table_matcher import filter_tables_by_tags

    tags = {"orders": ["pii", "gold"], "events": ["gold"], "tmp": []}
    tables = ["orders", "events", "tmp", "untagged"]
    # no criteria -> everything
    assert filter_tables_by_tags(tables, tags) == tables
    # AND semantics
    assert filter_tables_by_tags(tables, tags,
                                 required_tags=["pii", "gold"]) == ["orders"]
    # OR semantics
    assert filter_tables_by_tags(tables, tags,
                                 any_tags=["gold"]) == ["orders", "events"]
    # combined: AND then OR
    assert filter_tables_by_tags(tables, tags, required_tags=["gold"],
                                 any_tags=["pii"]) == ["orders"]
